"""The engine's PySpark daemon (``_daemon``) keeps each zip importer's
directory until its archive changes, so a Python task no longer re-reads
``pyspark.zip`` 16 times in ``importlib.invalidate_caches()``."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from braintumor_data_pipeline_spark import _daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("memo_pkg/__init__.py", "")
        zf.writestr("memo_pkg/mod.py", f"VALUE = {value!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding ``memo_pkg.mod`` on ``sys.path``, ``invalidate_if_changed``
    installed and ``_read_directory`` counted; all of it undone after."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "one")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_if_changed)
    reads = []
    real = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    yield archive, reads
    for name in ("memo_pkg.mod", "memo_pkg"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_importing_the_daemon_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is _daemon._reread


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("memo_pkg.mod").VALUE == "one"
    importers = [f for k, f in sys.path_importer_cache.items() if k.startswith(archive)]
    assert len(importers) == 2  # the archive root and memo_pkg/
    reads.clear()
    importlib.invalidate_caches()  # keys both importers
    assert len(reads) == 2
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_changed_archive_is_reread_once_and_imports_new_text(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("memo_pkg.mod").VALUE == "one"
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(archive, "two, a longer value")
    importlib.invalidate_caches()
    assert len(reads) == 2  # each importer re-reads once
    del sys.modules["memo_pkg.mod"]
    assert importlib.import_module("memo_pkg.mod").VALUE == "two, a longer value"
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_missing_archive_empties_the_importer(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("memo_pkg.mod")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert all(
        f._files == {} for k, f in sys.path_importer_cache.items() if k.startswith(archive)
    )


def test_python_task_rereads_no_zip_directory(spark):
    def count_rereads(batches):
        """The directory reads one invalidate_caches() does in this worker,
        and how many zip importers the worker holds. Defined here so it is
        pickled by value: the workers cannot import the tests."""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"reads": [len(reads)], "importers": [importers]})

    df = spark.range(4, numPartitions=2)
    schema = "reads long, importers long"
    df.mapInPandas(count_rereads, schema).collect()  # warm-up
    rows = df.mapInPandas(count_rereads, schema).collect()
    assert len(rows) == 2
    # the workers import pyspark from its zip, through many importers ...
    assert all(r.importers >= 2 for r in rows)
    # ... none of which re-reads its archive
    assert [r.reads for r in rows] == [0, 0]


_NEUTRAL_CWD_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from braintumor_data_pipeline_spark.session import get_spark

    def per_batch(batches):
        import numpy as np
        from braintumor_data_pipeline_spark.functions.imaging import normalize_minmax
        for pdf in batches:
            yield pdf.assign(top=int(normalize_minmax(np.arange(4)).max()))

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    try:
        print("MAP", sorted(spark.sparkContext.parallelize(range(4), 2).map(lambda x: x + 1).collect()))
        rows = spark.range(4, numPartitions=2).mapInPandas(per_batch, "id long, top long").collect()
        print("PANDAS", sorted(r.top for r in rows))
    finally:
        spark.stop()
    """
)


def test_workers_import_the_package_from_a_neutral_cwd(tmp_path):
    """The daemon starts with ``python -m`` in the JVM's cwd, so with
    ``PYTHONPATH`` unset only ``spark.executorEnv.PYTHONPATH`` lets the
    workers import the daemon and the package functions a task calls."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _NEUTRAL_CWD_SCRIPT.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "MAP [1, 2, 3, 4]" in proc.stdout
    assert "PANDAS [255, 255, 255, 255]" in proc.stdout
