"""Side-by-side diff of two benchmark outputs, metric by metric, and the
tracing overhead of a set of runs.

    python3 perfbench/compare.py BASE NEW
    python3 perfbench/compare.py overhead --untraced OUT... --traced OUT...

BASE and NEW are trace files written by ``run.py --trace 1``
(``perfbench/out/trace-<workload>-<seed>.json``) or files holding a
run's standard output, whose last line is the result object. Each
metric is printed with both values, the ratio NEW/BASE and its base,
and, for per-layer metrics, the end-to-end metric the layer should move
(from ``spec.json``).

``overhead`` takes untraced and traced outputs of one workload over the
same seeds and prints the median traced ``trace.wall_s`` minus the median
untraced ``wall_s``: the cost of spans, job groups and the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[str, dict]:
    """Metric name → {"value", "unit"} from a trace file or a run's output."""
    with open(path) as fh:
        text = fh.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads(text.strip().splitlines()[-1])
    metrics = dict(doc["metrics"])
    for k, v in doc.get("e2e", {}).items():  # a trace file's traced end-to-end numbers
        metrics.setdefault(f"traced.{k}", {"value": v, "unit": ""})
    return metrics


def moves(name: str, layers: dict) -> str:
    key = name if name in layers else name.rsplit(".", 1)[0] + ".*"
    info = layers.get(key)
    return f"{info['moves']} on {info['on']}" if info else ""


def overhead(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="compare.py overhead")
    ap.add_argument("--untraced", nargs="+", required=True)
    ap.add_argument("--traced", nargs="+", required=True)
    args = ap.parse_args(argv)
    base = statistics.median(load(p)["wall_s"]["value"] for p in args.untraced)
    traced = statistics.median(load(p)["trace.wall_s"]["value"] for p in args.traced)
    print(
        f"untraced wall_s median {base:.4f} s ({len(args.untraced)} runs), "
        f"traced {traced:.4f} s ({len(args.traced)} runs): overhead {traced - base:+.4f} s "
        f"({(traced - base) / base:+.1%})"
    )
    return 0


def main(argv: list[str]) -> int:
    if argv[:1] == ["overhead"]:
        return overhead(argv[1:])
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    with open(os.path.join(HERE, "spec.json")) as fh:
        layers = json.load(fh)["layers"]
    rows = [("metric", "unit", "base", "new", "new/base", "should move")]
    for name in sorted(set(base) | set(new)):
        b = base.get(name, {}).get("value")
        n = new.get(name, {}).get("value")
        unit = (base.get(name) or new.get(name))["unit"]
        if b is None or n is None:
            ratio = "missing"
        elif b == 0:
            ratio = "same (base 0)" if n == 0 else "n/a (base 0)"
        else:
            ratio = f"{n / b:.3f} of {b:.4g}"
        fmt = lambda v: "-" if v is None else f"{v:.4g}"  # noqa: E731
        rows.append((name, unit, fmt(b), fmt(n), ratio, moves(name, layers)))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
