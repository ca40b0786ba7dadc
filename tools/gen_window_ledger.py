"""Generate WINDOW_LEDGER.json — the machine-readable driver-evidence
ledger (VERDICT r4 item 8).

Source of truth is the driver's own per-round artifacts
``CORRECTNESS_r*.json`` (never the registry's prose rotation log): for
every query that ever held a driver window slot, record the rounds it
was checked and whether the check was fully green (rows + schema +
hash, no err). Emits:

    {"rounds": [1, 2, ...],
     "queries": {name: {"confirmed_rounds": [...],   # fully green
                        "checked_rounds": [...],      # held a slot
                        "in_registry": bool}},
     "summary": {"cumulative_confirmed": N,
                 "registered": M,
                 "never_checked": M - N_in_registry},
     "src_sha": {name: registry.src_sha(builder)}}  # every registered query

so a judge can verify the cumulative-confirmed claim by reading one
file and cross-checking any entry against the CORRECTNESS artifacts.
``registry.driver_window`` reads this file to pick the driver window.
``src_sha`` is a snapshot taken when the ledger is regenerated at round
start: a builder edited since then differs from it and enters the window.

Usage: python tools/gen_window_ledger.py            # write + print summary
       python tools/gen_window_ledger.py --check    # exit 1 if the file
                                                    # on disk is stale
                                                    # (src_sha not compared)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


#: Ledger hygiene (VERDICT r6 task 8): every checked-but-never-confirmed
#: name must carry a documented explanation — either the formulation was
#: superseded (the successor now holds the evidence) or the round-1-era
#: check predates the oracle. --check fails on any unexplained entry, so
#: a future silent regression (a query that holds a slot and never goes
#: green) cannot hide among historical artifacts.
EXPLAINED_UNCONFIRMED: dict[str, str] = {
    "approx_distinct_parts": (
        "r1-era rows-only check (err=no_oracle): the query predated its "
        "recomputing HLL oracle; the oracle-backed formulation has not "
        "re-held a slot since (sketch family evidence rides "
        "hll_set_intersection_estimate r6 / hll_register_sketch r7)"
    ),
    "embedding_pca_covariance": (
        "r9 red row is representation-only: rows+schema match, hash "
        "mismatch on the registry's sole DECIMAL(38,0) output column — "
        "judge r9 verified values cell-for-cell exact cross-engine "
        "(including Python types) at sf0.01 and sf0.1. r10 re-enters a "
        "changed formulation emitting sxy as a canonical digit string "
        "on both engines"
    ),
    "json_props_explode": (
        "r1-era builder raised (err=Traceback) before the r2 JSON-path "
        "fix; the fixed formulation's evidence rides "
        "json_extract_props (driver-r1/r2 green) and the r6 "
        "jsonl_corrupt_records_audit slot"
    ),
}


def build(root: str = REPO) -> dict:
    """Ledger from the ``CORRECTNESS_r*.json`` artifacts under ``root``
    and the live registry."""
    from braintumor_data_pipeline_spark import registry

    specs = registry.all_queries()
    registered = set(specs)
    rounds: list[int] = []
    queries: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m[1])
        rounds.append(rnd)
        data = json.load(open(path))
        for name, row in data.items():
            if not isinstance(row, dict) or "rows_match" not in row:
                continue  # non-query metadata keys, if the driver adds any
            q = queries.setdefault(
                name,
                {
                    "confirmed_rounds": [],
                    "checked_rounds": [],
                    "in_registry": name in registered,
                },
            )
            q["checked_rounds"].append(rnd)
            green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            )
            if green:
                q["confirmed_rounds"].append(rnd)
    confirmed = {n for n, q in queries.items() if q["confirmed_rounds"]}
    for name, q in queries.items():
        if not q["confirmed_rounds"] and name in EXPLAINED_UNCONFIRMED:
            q["unconfirmed_note"] = EXPLAINED_UNCONFIRMED[name]
    return {
        "rounds": rounds,
        "queries": dict(sorted(queries.items())),
        "summary": {
            "cumulative_confirmed": len(confirmed),
            "checked_ever": len(queries),
            "registered": len(registered),
            "never_checked": len(registered - set(queries)),
        },
        "src_sha": {n: registry.src_sha(specs[n].fn) for n in sorted(specs)},
    }


def main() -> int:
    out_path = os.path.join(REPO, "WINDOW_LEDGER.json")
    ledger = build()
    if "--check" in sys.argv[1:]:
        if not os.path.exists(out_path):
            print("DRIFT  WINDOW_LEDGER.json missing", file=sys.stderr)
            return 1
        on_disk = json.load(open(out_path))
        # Explicit newest-round gate (VERDICT r5 task 5): the committed
        # ledger lagging the latest driver artifact is the one drift
        # class that recurs by construction (CORRECTNESS_rN lands after
        # the builder's last rN commit), so name it precisely before
        # the generic equality check.
        missing = [r for r in ledger["rounds"] if r not in on_disk.get("rounds", [])]
        if missing:
            print(
                f"DRIFT  WINDOW_LEDGER.json missing round(s) {missing} "
                "present in CORRECTNESS_r*.json on disk — regenerate with "
                "tools/gen_window_ledger.py and commit",
                file=sys.stderr,
            )
            return 1
        on_disk.pop("src_sha", None)
        ledger.pop("src_sha")
        if on_disk != ledger:
            print(
                "DRIFT  WINDOW_LEDGER.json stale vs CORRECTNESS_r*.json — "
                "regenerate with tools/gen_window_ledger.py",
                file=sys.stderr,
            )
            return 1
        unexplained = [
            n
            for n, q in ledger["queries"].items()
            if not q["confirmed_rounds"] and n not in EXPLAINED_UNCONFIRMED
        ]
        if unexplained:
            print(
                f"DRIFT  checked-but-never-confirmed queries without a "
                f"documented explanation: {unexplained} — add an "
                "EXPLAINED_UNCONFIRMED entry (superseded formulation / "
                "pre-oracle era) or fix the query",
                file=sys.stderr,
            )
            return 1
        print("ok: WINDOW_LEDGER.json consistent", file=sys.stderr)
        return 0
    with open(out_path, "w") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=False)
        fh.write("\n")
    s = ledger["summary"]
    print(
        f"wrote WINDOW_LEDGER.json: {s['cumulative_confirmed']} queries "
        f"driver-confirmed across rounds {ledger['rounds']}; "
        f"{s['never_checked']} of {s['registered']} registered never held "
        f"a slot",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
