"""Central query registry — the contract surface the driver checks.

Every operator from SURVEY §2 that we implement registers here as a named
query: a ``(spark, sf_dir) -> DataFrame`` builder, plus (when the operator
is SQL-expressible) an equivalent DuckDB oracle SQL string. The driver
runs both at sf0.01 and compares row-count + schema + order-insensitive
value-hash, so:

- every computed column is aliased identically on both sides;
- every floating-point output is ``round(x, 6)`` on both sides (different
  summation orders perturb low bits; 6 decimals is far coarser than the
  ~1e-10 relative error of double accumulation at these row counts);
- every LIMIT carries a total-order ORDER BY (value, then key) so both
  engines cut the same prefix.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import io
import json
import os
import textwrap
import tokenize
from collections.abc import Callable
from dataclasses import dataclass, field
from types import CodeType

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    #: Set when the oracle is a frozen VALUES golden generated at one
    #: specific scale factor (tools/pin_oracle.py) rather than a
    #: recomputation — valid only at that SF; verify_local downgrades it
    #: to rows-only elsewhere. None for true recomputing oracles.
    pinned_sf: str | None = None


_REGISTRY: dict[str, QuerySpec] = {}

#: The driver hash-checks only the first DRIVER_WINDOW entries of
#: ``queries()``; :func:`driver_window` chooses them.
DRIVER_WINDOW = 50

#: Rolling family-coverage horizon: every module with a recomputing
#: oracle holds a window slot or was driver-confirmed in one of the
#: ledger's newest ``ROLLING_COVERAGE_ROUNDS - 1`` rounds.
ROLLING_COVERAGE_ROUNDS = 3

#: Bench headline set, one representative per operator family (SURVEY
#: §2). Always in the driver window, so the perf and correctness gates
#: cover the same surface.
HEADLINE: tuple[str, ...] = (
    "flagship_avg_by_group",      # A13 group-avg + topk
    "pricing_summary",            # scan-filter-agg (pushdown)
    "star_join_revenue",          # 4-way star join
    "top_revenue_orders",         # selective join + topk
    "window_rank_orders",         # window functions
    "rollup_lineitem",            # grouping sets
    "histogram_totalprice",       # fixed-bin histogram
    "minhash_dedup_groups",       # dedup: minhash signature groups (linear)
    "ngram_jaccard_pairs",        # dedup: inverted-index jaccard
    "knn_bruteforce_cosine",      # similarity top-k
    "pixel_minmax_normalize",     # pixel-relation imaging
    "mask_metrics",               # mask algebra
    "region_grow_component",      # iterative packed-grid BFS
    "events_session_30m",         # session windows
    "events_asof_last_view",      # as-of join
)

LEDGER_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "WINDOW_LEDGER.json",
)


@functools.cache
def _code_text(fn: Callable) -> str:
    """Source of ``fn`` as a token stream without comments or blank
    lines: independent of where the function sits in its file."""
    src = textwrap.dedent(inspect.getsource(fn))
    toks = tokenize.generate_tokens(io.StringIO(src).readline)
    return " ".join(
        t.string for t in toks if t.type not in (tokenize.COMMENT, tokenize.NL)
    )


def _names(code: CodeType) -> set[str]:
    out = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, CodeType):
            out |= _names(c)
    return out


@functools.cache
def src_sha(fn: Callable) -> str:
    """Hash of a builder's source plus every same-module function it
    names, transitively (a helper edit changes its callers' hash)."""
    seen: dict[str, str] = {}
    todo = [fn]
    while todo:
        f = inspect.unwrap(todo.pop())
        if f.__qualname__ in seen:
            continue
        seen[f.__qualname__] = _code_text(f)
        for name in sorted(_names(f.__code__)):
            g = inspect.unwrap(f.__globals__.get(name))
            if inspect.isfunction(g) and g.__module__ == fn.__module__:
                todo.append(g)
    text = "\n".join(seen[k] for k in sorted(seen))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def family(spec: QuerySpec) -> str:
    """Operator family of a query: the module that defines its builder."""
    return spec.fn.__module__.rsplit(".", 1)[-1]


def driver_window(ledger: dict) -> list[str]:
    """The DRIVER_WINDOW recomputing-oracle queries the driver checks,
    from the registry and a WINDOW_LEDGER.json mapping, in this order
    (ties broken by name):

    1. HEADLINE;
    2. for each family neither covered by step 1 nor confirmed in the
       ledger's newest ``ROLLING_COVERAGE_ROUNDS - 1`` rounds, its
       least-recently-checked member (never-checked first);
    3. queries whose ``src_sha`` differs from the ledger's, least-
       recently-checked first;
    4. all other queries, least-recently-checked first."""
    specs = all_queries()
    pool = [n for n, s in specs.items() if s.oracle and not s.pinned_sf]
    entries = ledger["queries"]
    last = {n: max(q["checked_rounds"], default=0) for n, q in entries.items()}

    def age(n: str) -> tuple[int, str]:
        return last.get(n, 0), n

    horizon = set(sorted(ledger["rounds"])[-(ROLLING_COVERAGE_ROUNDS - 1):])
    window = list(HEADLINE)
    if not set(window) <= set(pool):
        raise RuntimeError("every HEADLINE query needs a recomputing oracle")
    covered = {family(specs[n]) for n in window} | {
        family(specs[n])
        for n, q in entries.items()
        if n in specs and horizon & set(q["confirmed_rounds"])
    }
    for fam in sorted({family(specs[n]) for n in pool} - covered):
        window.append(min((n for n in pool if family(specs[n]) == fam), key=age))
    if len(window) > DRIVER_WINDOW:
        raise RuntimeError(
            f"HEADLINE + family keeps need {len(window)} > {DRIVER_WINDOW} slots"
        )
    shas = ledger["src_sha"]
    rest = sorted(
        (n for n in pool if n not in window),
        key=lambda n: (shas.get(n) == src_sha(specs[n].fn), *age(n)),
    )
    return (window + rest)[:DRIVER_WINDOW]


def load_ledger(path: str = LEDGER_PATH) -> dict:
    """Read a ledger file; a missing or corrupt one raises."""
    with open(path) as f:
        return json.load(f)


_committed_ledger = functools.cache(load_ledger)


def _driver_order() -> dict[str, QuerySpec]:
    """Registry in driver-facing order: the window, then the remaining
    oracle-backed queries, then rows-only queries (no hash signal)."""
    specs = all_queries()
    out = {n: specs[n] for n in driver_window(_committed_ledger())}
    for has_oracle in (True, False):
        out.update(
            (n, s) for n, s in specs.items()
            if n not in out and bool(s.oracle) == has_oracle
        )
    return out


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    pinned_sf: str | None = None,
):
    """Decorator: register a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tags,
            doc=(fn.__doc__ or "").strip(), pinned_sf=pinned_sf,
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Name → spec for everything registered (imports the operator
    modules), in registration order."""
    _load_all()
    return dict(_REGISTRY)


def queries_dict() -> dict[str, QueryFn]:
    """Driver contract: builders with the driver window first."""
    return {name: spec.fn for name, spec in _driver_order().items()}


def oracles_dict() -> dict[str, str]:
    """Driver contract: oracle SQL in :func:`queries_dict` order."""
    return {
        name: spec.oracle for name, spec in _driver_order().items() if spec.oracle
    }


_loaded = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _loaded
    if _loaded:
        return
    # Imported for their registration side effects.
    from .operators import (  # noqa: F401
        relational,
        analytics,
        basket,
        bucketed,
        text,
        dedup,
        similarity,
        pixels,
        masks,
        segmentation,
        imaging_udf,
        multimodal,
        skew,
        bpe,
        components,
        graph,
        graph_twins,
        tpch_shapes,
        llm_pipeline,
        cdc,
        timeseries,
        phash,
        sketch,
        recursive,
        indexing,
        intervals,
        experiments,
    )
    from .plans import app_flow  # noqa: F401
    from .sources import csv_io as _csv_io  # noqa: F401
    from .sources import jsonl as _jsonl  # noqa: F401
    from .sources import orc_io as _orc_io  # noqa: F401
    from .sources import xml_io as _xml_io  # noqa: F401
    from .sources import generator as _generator  # noqa: F401
    from .sources import textdir as _textdir  # noqa: F401
    from .sources import maintenance as _maintenance  # noqa: F401
    from .streaming import events as _events  # noqa: F401

    _loaded = True
