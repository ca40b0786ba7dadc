"""Custom stateful streaming operator (SURVEY §2.11 — the
``applyInPandasWithState`` surface).

``running_type_totals`` keeps per-event_type state (count, value sum)
across micro-batches and emits the updated totals each trigger — the
"custom stateful operator" building block that windowed built-ins can't
express (e.g. monotone counters, sessionized ML features, CDC merges).

State is one tiny row per key; at scale the state store shards by the
grouping key across executors, and RocksDB-backed state (config, not
code) handles key cardinality beyond memory.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.fixtures import events_stream, load_table
from . import drain_to_memory
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s_micros", LongType())]
)


def _fold_totals(
    key: tuple[Any, ...],
    totals: tuple[int, int],
    pdfs: Iterable[pd.DataFrame],
) -> tuple[tuple[int, int], pd.DataFrame]:
    """Add the rows of ``pdfs`` to one event_type's running (count,
    value micro-sum) ``totals``; returns the new totals and their
    one-row ``OUTPUT_SCHEMA`` emission.

    The sum is kept as integer MICRO-units (value quantized to 6
    decimals), so accumulation is exact and order-independent — the
    emitted total is bit-identical to the batch DECIMAL(38,6) sum
    (functions/money.py) no matter how micro-batches split the input."""
    n, s_micros = totals
    for pdf in pdfs:
        n += len(pdf)
        s_micros += int(
            np.rint(pdf["value"].to_numpy() * 1e6).astype(np.int64).sum()
        )
    emission = pd.DataFrame(
        [{"event_type": key[0], "n_events": n, "sum_value": s_micros / 1e6}]
    )
    return (n, s_micros), emission


def _update_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    totals, emission = _fold_totals(
        key, state.get if state.exists else (0, 0), pdfs
    )
    state.update(totals)
    yield emission


def run_stateful_type_totals(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the stateful counter as a real Structured Streaming job over
    the events parquet; returns the last emitted totals per event_type.
    Tests assert they equal the batch group-by."""
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src").select(
        "event_type", "value"
    )
    totals = stream.groupBy("event_type").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # memory sink in update mode appends each emission; keep the LAST
    # emission per key (the final state)
    emitted = drain_to_memory(
        totals, "stateful_totals", checkpoint_dir, mode="update"
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas — Spark 4's arbitrary-state API (the
# successor to applyInPandasWithState): typed state variables on a
# handle, explicit init/close lifecycle, timers. It folds rows through
# the same exact-integer _fold_totals as _update_totals above.
#
# Environment gate: the TWS Python state-server protocol speaks
# protobuf; ``google.protobuf`` is not installed in this container, so
# the operator raises a clear error (and its parity test skips) when
# the dependency is missing — the code path is exercised wherever
# protobuf exists. HAS_TWS_DEPS is the probe tests key off.
# ---------------------------------------------------------------------------
from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

try:  # pragma: no cover - environment probe
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS_DEPS = True
except ImportError:
    HAS_TWS_DEPS = False


class TypeTotalsProcessor(StatefulProcessor):
    """Per-event_type running (count, micro-sum) via a ValueState —
    the transformWithState flavor of ``_update_totals``. State is a
    single typed tuple per key; the store shards by key and survives
    checkpoints like any other stateful operator."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "totals", STATE_SCHEMA
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        totals, emission = _fold_totals(
            key,
            tuple(self._state.get()) if self._state.exists() else (0, 0),
            rows,
        )
        self._state.update(totals)
        yield emission

    def close(self) -> None:
        pass


def run_tws_type_totals(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """The same per-type running totals through
    ``transformWithStateInPandas`` — asserted in tests to agree with
    both the applyInPandasWithState operator and the batch group-by
    (API-migration parity: same semantics, newer state surface).
    Requires protobuf (see HAS_TWS_DEPS) and the RocksDB state store."""
    if not HAS_TWS_DEPS:
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf (absent in "
            "this container); use run_stateful_type_totals instead"
        )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src").select(
        "event_type", "value"
    )
    totals = stream.groupBy("event_type").transformWithStateInPandas(
        TypeTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    emitted = drain_to_memory(totals, "tws_totals", checkpoint_dir, mode="update")
    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Pure-Python TWS replay harness (VERDICT r6 task 7): google.protobuf —
# the wire protocol between the Python worker and the JVM state server —
# is not installed in this container, so transformWithStateInPandas
# itself cannot run here. What CAN run everywhere is the processor: the
# harness below drives the very same TypeTotalsProcessor through its
# StatefulProcessor lifecycle (init → handleInputRows per key per
# micro-batch → close) with a local state handle, distributing each
# micro-batch through applyInPandas and carrying the typed state
# BETWEEN batches exactly like the state store would (seeded back via a
# bounded ≤|event_type| join). The parity test asserts this cross-batch
# replay equals the batch group-by in every environment; where protobuf
# exists, run_tws_type_totals exercises the real channel too.
# ---------------------------------------------------------------------------


class _LocalValueState:
    """In-process stand-in for the TWS ValueState handle surface."""

    def __init__(self) -> None:
        self._value = None
        self._exists = False

    def exists(self) -> bool:
        return self._exists

    def get(self):
        return self._value

    def update(self, value) -> None:
        self._value = value
        self._exists = True


class _LocalHandle:
    """StatefulProcessorHandle shim: typed value-state only (all the
    TypeTotalsProcessor uses)."""

    def getValueState(self, name: str, schema) -> _LocalValueState:
        return _LocalValueState()


TWS_REPLAY_BATCHES = 4


def run_tws_type_totals_local(
    spark: SparkSession, sf_dir: str, n_batches: int = TWS_REPLAY_BATCHES
) -> DataFrame:
    """Cross-batch replay of ``TypeTotalsProcessor`` without the TWS
    protobuf channel: rows split into ``n_batches`` deterministic
    micro-batches (md5 of event_id — partitioning-independent), each
    batch processed per key by the REAL processor class inside
    applyInPandas, state carried between batches through a bounded
    per-key frame (≤ |event_type| rows — the same information the
    state store would persist). Returns the final per-type totals."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .withColumn(
            "_batch",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("tws|"), F.col("event_id").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % n_batches,
        )
        .persist()
    )

    def drive(pdf: pd.DataFrame) -> pd.DataFrame:
        key = (pdf["event_type"].iloc[0],)
        proc = TypeTotalsProcessor()
        proc.init(_LocalHandle())
        # seeds travel as STRINGS: a long column with NULLs would reach
        # pandas as float64 and silently round past 2^53, breaking the
        # exact-integer accumulation doctrine (ADVICE r7)
        seed_n = pdf["_seed_n"].iloc[0]
        if pd.notna(seed_n):
            proc._state.update(
                (int(seed_n), int(pdf["_seed_s"].iloc[0]))
            )
        rows = pdf[pdf["_batch_row"]][["value"]]
        out = list(proc.handleInputRows(key, iter([rows]), None))
        proc.close()
        n, s_micros = proc._state.get()
        emission = out[0]
        emission["_n"] = n
        emission["_s_micros"] = s_micros
        return emission

    schema = (
        "event_type string, n_events long, sum_value double, "
        "_n long, _s_micros long"
    )
    state_rows: list = []  # ≤ |event_type| tuples — bounded carry
    final: dict = {}
    for b in range(n_batches):
        batch = ev.filter(F.col("_batch") == b).withColumn(
            "_batch_row", F.lit(True)
        )
        if state_rows:
            seed = spark.createDataFrame(
                [(t, str(n), str(s)) for t, n, s in state_rows],
                "event_type string, _seed_n string, _seed_s string",
            )
            batch = batch.join(F.broadcast(seed), "event_type", "left")
        else:
            batch = batch.withColumn(
                "_seed_n", F.lit(None).cast("string")
            ).withColumn("_seed_s", F.lit(None).cast("string"))
        emitted = (
            batch.groupBy("event_type")
            .applyInPandas(drive, schema=schema)
            .collect()  # ≤ |event_type| rows per batch — state, not data
        )
        for r in emitted:
            final[r.event_type] = (r.event_type, r.n_events, r.sum_value)
        # carry: merge this batch's state over the previous carry (keys
        # absent from this batch keep their old state)
        carried = {t[0]: t for t in state_rows}
        for r in emitted:
            carried[r.event_type] = (r.event_type, r._n, r._s_micros)
        state_rows = list(carried.values())
    ev.unpersist()
    return spark.createDataFrame(
        sorted(final.values()),
        "event_type string, n_events long, sum_value double",
    )
