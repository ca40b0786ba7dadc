"""Audit oracle SQL result types against Spark result types.

The driver's value-hash is sensitive to the *materialized* type of each
column, not just its value: DuckDB promotes ``sum(<integer>)`` to
HUGEINT (int128), which round-trips through pandas/arrow as
decimal128/float64 and hash-mismatches Spark's BIGINT even when every
value is identical (this is exactly what sank ``null_semantics_groups``
in round 1). This tool compares, for every registered oracle:

- DuckDB: ``DESCRIBE SELECT ...`` column types (no execution), vs
- Spark:  ``spec.fn(spark, sf_dir).dtypes`` (plan-time schema only),
  each query built inside ``caching.query_scope``, so a cache one
  builder leaves never reaches the next.

and prints any column whose types do not map to the same canonical
type. Exit code 1 if any HARD mismatch (different value domain, e.g.
HUGEINT vs BIGINT, DOUBLE vs BIGINT) is found; width-only intege
differences (INTEGER vs BIGINT) are reported as WARN since both render
identically through the driver's canonicalization.

Usage: python tools/oracle_type_audit.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.caching import query_scope
from braintumor_data_pipeline_spark.session import get_spark
from braintumor_data_pipeline_spark.sources.fixtures import TABLES
from tools.verify_local import select_names


def _canon_duck(t: str) -> str:
    t = t.upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t == "HUGEINT":
        return "hugeint"  # never acceptable — always flag
    if t in ("FLOAT", "REAL"):
        return "float32"
    if t == "DOUBLE":
        return "float64"
    if t.startswith("DECIMAL"):
        return t.lower()
    if t in ("VARCHAR", "TEXT"):
        return "string"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BLOB":
        return "binary"
    if t.endswith("[]"):
        return "list<" + _canon_duck(t[:-2]) + ">"
    return t.lower()


def _canon_spark(t: str) -> str:
    t = t.lower()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t == "float":
        return "float32"
    if t == "double":
        return "float64"
    if t.startswith("decimal"):
        return t
    if t == "string":
        return "string"
    if t == "boolean":
        return "bool"
    if t == "date":
        return "date"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "binary":
        return "binary"
    m = re.match(r"array<(.*)>$", t)
    if m:
        return "list<" + _canon_spark(m.group(1)) + ">"
    return t


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]

    spark = get_spark(app_name="oracle-type-audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    specs = registry.all_queries()
    names = [n for n in select_names(specs, filters) if specs[n].oracle]
    hard = warn = ok = err = 0
    for name in names:
        spec = specs[name]
        try:
            with query_scope(spark, name):
                sdtypes = dict(spec.fn(spark, sf_dir).dtypes)
        except Exception as exc:  # noqa: BLE001
            err += 1
            print(f"ERR   {name}: spark plan: {exc}")
            continue
        try:
            rows = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        except Exception as exc:  # noqa: BLE001
            err += 1
            print(f"ERR   {name}: duckdb describe: {exc}")
            continue
        odtypes = {r[0]: r[1] for r in rows}
        bad = []
        for col, otype in odtypes.items():
            stype = sdtypes.get(col)
            if stype is None:
                bad.append((col, otype, "<missing in spark>", "HARD"))
                continue
            co, cs = _canon_duck(otype), _canon_spark(stype)
            if co == cs:
                continue
            sev = "HARD"
            # both integer-family, just different widths → same rendering
            if {co, cs} <= {"int"}:
                sev = "WARN"
            bad.append((col, otype, stype, sev))
        for col in sdtypes:
            if col not in odtypes:
                bad.append((col, "<missing in oracle>", sdtypes[col], "HARD"))
        if not bad:
            ok += 1
            continue
        for col, otype, stype, sev in bad:
            if sev == "HARD":
                hard += 1
            else:
                warn += 1
            print(f"{sev}  {name}.{col}: duckdb={otype} spark={stype}")

    print(f"\n{ok} clean, {hard} hard, {warn} warn, {err} err / {len(names)} oracles")
    spark.stop()
    return 1 if hard or err else 0


if __name__ == "__main__":
    sys.exit(main())
