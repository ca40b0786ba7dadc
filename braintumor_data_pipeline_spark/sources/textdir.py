"""Plain-text corpus directory — the one-file-per-document layout.

The most common exchange shape for LLM training text is a tree of
``.txt`` files, often bucketed by a partition attribute
(``lang=en/123.txt``). This module writes the documents table into
that layout (executor-side ``foreachPartition`` writes — no data
through the driver) and reads it back with ``spark.read.text(...,
wholetext=True)`` + ``input_file_name()``, recovering doc_id and the
hive-style ``lang=`` attribute from the path. The registered query
checksums the round trip against the original parquet, so a hash match
certifies content fidelity per language bucket.

Scale notes: one-file-per-doc is an object-store layout (read
parallelism = file count; wholetext makes each file one record, which
is exactly right when a record IS a document). For billions of tiny
docs the packed JSONL shards (sources/jsonl.py) are the better
physical layout — both now exist, matching how real corpora arrive.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



#: Layout-format version for this module's derived layouts. The source
#: fingerprint only detects changed INPUT bytes; bump this whenever the
#: encoder (write_*), shard layout, or corruption schedule changes so
#: cached /tmp layouts built by older code are invalidated (ADVICE r10).
_LAYOUT_VERSION = "1"


def write_text_dir(docs: DataFrame, path: str) -> None:
    """documents(doc_id, lang, text) → ``path/lang=<lang>/<doc_id>.txt``
    written from executors (each partition writes its own files).

    ``path`` must be CALLER-OWNED (a private/stage dir): this rewrites
    it in place. For the shared tag-keyed corpus tree use
    :func:`ensure_text_dir`, which stages through this function and
    publishes atomically."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    rows = docs.select("doc_id", "lang", "text")

    def write_part(it):
        for r in it:
            d = os.path.join(path, f"lang={r.lang}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{r.doc_id}.txt"), "w") as f:
                f.write(r.text)

    rows.foreachPartition(write_part)


def ensure_text_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the shared one-file-per-doc text tree for ``sf_dir``
    (idempotent, cross-process race-safe) and return its path.

    The old shape — rmtree + rewrite of the shared tag-keyed dir on
    every call — was the r7 events-layout flake class: a concurrent
    gate mid-read loses files under its feet. Publication rides
    :func:`maintenance.publish_derived_layout` (fingerprint marker,
    stage + atomic rename, stale layouts aside + reaped)."""
    from ..sources.fixtures import load_table
    from .maintenance import fixture_fingerprint, publish_derived_layout

    tag = re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    path = os.path.join(tempfile.gettempdir(), "braintumor_textdir", tag)
    return publish_derived_layout(
        path,
        fixture_fingerprint(sf_dir, "documents"),
        lambda stage: write_text_dir(
            load_table(spark, sf_dir, "documents"), stage
        ),
        version=_LAYOUT_VERSION,
    )


def read_text_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read the tree back: one row per file, doc_id/lang from the path."""
    raw = spark.read.text(os.path.join(path, "*", "*.txt"), wholetext=True)
    fn = F.input_file_name()
    return raw.select(
        F.regexp_extract(fn, r"/(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        F.regexp_extract(fn, r"lang=([^/]+)/", 1).alias("lang"),
        F.col("value").alias("text"),
    )


# The registered round-trip query lives in sources/jsonl.py: text trees
# and JSONL shards are the same "corpus interchange" family (the driver
# window keeps every family covered — see registry.driver_window), and
# jsonl.py is that family's registration home.
