"""End-of-round gate (VERDICT r4 task 1): one judge-reproducible command
that must exit 0 on the final tree before a round closes, so post-gate
additions can never land unaudited again (r4 shipped a CRIT-flagged plan
because the audit ran before the last commits).

Runs, in order, and fails fast on the first red:

  1. doc-count drift      tools/gen_catalog.py --check
  2. window ledger        tools/gen_window_ledger.py --check
  3. window invariants    the test_queries_smoke window tests
                          (generated window == checked prefix,
                          headliners in-window, rolling-3 family
                          coverage, ledger horizon, src_sha,
                          two-process determinism — under a minute)
  4. streaming parity     tests/test_streaming.py (batch ≡ stream for
                          every Structured Streaming runner; no runner
                          is a registered query, so no other step runs
                          them — ~90 s on 4 vCPU)
  5. window determinism   tools/determinism_sweep.py sf0.001 (the
                          3-session certificate — 5-part / 32-part /
                          AQE-off — over the exact window the driver
                          is about to hash; VERDICT r11 task 7)
  6. plan-audit rules     tests/test_plan_audit.py (one small plan per
                          audit rule — a broken rule fails in seconds,
                          before the full-catalog audit)
  7. physical-plan audit  tools/plan_audit.py  (full catalog, sf0.001;
                          also red on an exemption that matched nothing)
  8. scale-probe bands    tools/scaling_probe.py quick (six probes,
                          x1/x4 ratios; kcenter x1 step walls; the
                          dedup probes time the registered builders;
                          568 s on 4 vCPU)
  9. correctness gate     tools/verify_local.py (full catalog, sf0.01)

The FULL pytest suite is intentionally not included (it is its own CI
surface and takes ~20 min); run it separately. Usage:
python tools/end_of_round.py
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pytest(*args: str) -> list[str]:
    quiet = ["-q", "--no-header", "-p", "no:cacheprovider"]
    return [sys.executable, "-m", "pytest", *args, *quiet]


STEPS = [
    ("doc-count drift", [sys.executable, "tools/gen_catalog.py", "--check"]),
    ("window ledger", [sys.executable, "tools/gen_window_ledger.py", "--check"]),
    # window-policy invariants: driver_window(ledger) == checked prefix,
    # recomputing oracles only, headliners in-window, rolling-3 family
    # coverage — a broken window must fail THIS gate, not pytest hours
    # later
    (
        "window invariants",
        _pytest(
            "tests/test_queries_smoke.py",
            "-k",
            "driver_window or rolling_coverage or src_sha",
        ),
    ),
    ("streaming parity", _pytest("tests/test_streaming.py")),
    # window-scope 3-session determinism certificate (VERDICT r11
    # task 7): the exact window surface the driver will hash, under
    # 5/32 shuffle partitions and an AQE-off pass, in separate
    # processes — partition-count- or scheduling-dependent results
    # fail HERE, not at the driver (~3 min at sf0.001)
    (
        "window determinism",
        [sys.executable, "tools/determinism_sweep.py", "/root/testdata/sf0.001"],
    ),
    # one small plan per audit rule: a broken rule fails in seconds
    ("plan-audit rules", _pytest("tests/test_plan_audit.py")),
    ("plan audit", [sys.executable, "tools/plan_audit.py", "/root/testdata/sf0.001"]),
    # quick scale-probe pass (VERDICT r6 task 6): x1/x4 factors of the
    # six probes (kcenter at x1: its band is the step-wall ratio within
    # one run), per-unit ratios asserted against stored bands so a
    # formulation change that reintroduces a superlinear stage fails
    # THIS gate, not the next judge (568 s on 4 vCPU)
    ("scale-probe bands", [sys.executable, "tools/scaling_probe.py", "quick"]),
    ("correctness gate", [sys.executable, "tools/verify_local.py", "/root/testdata/sf0.01"]),
]


def main() -> int:
    for label, cmd in STEPS:
        t0 = time.perf_counter()
        print(f"==> {label}: {' '.join(cmd[1:])}", flush=True)
        proc = subprocess.run(cmd, cwd=REPO)
        dt = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"RED  {label} exited {proc.returncode} after {dt:.0f}s")
            return 1
        print(f"ok   {label} [{dt:.0f}s]", flush=True)
    print("ALL GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
