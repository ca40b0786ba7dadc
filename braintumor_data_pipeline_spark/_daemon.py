"""PySpark worker daemon that re-reads a zip archive's directory only when
the archive changed.

Spark starts this module (``spark.python.daemon.module``, set in
``session._DEFAULTS``) once per executor, and it forks the Python
workers. ``pyspark.worker`` calls ``importlib.invalidate_caches()`` at
the start of every task, and under CPython 3.11 and 3.12 that makes every
``zipimporter`` re-read the central directory of its whole archive. A
worker holds 16 importers over ``pyspark.zip`` and the py4j zip, so each
task paid 16 directory reads (~130 ms on 4 vCPU) before any user code.

Before the first fork, :func:`main` replaces
``zipimporter.invalidate_caches`` with :func:`invalidate_if_changed`,
which keys each importer's last read on the archive's
``(st_ino, st_mtime_ns, st_size)``, and keys every importer once. A
changed or missing archive is re-read as before. The driver process is
never patched: importing this module changes nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches  # the stock eager re-read


def invalidate_if_changed(self) -> None:
    """Drop-in for ``zipimporter.invalidate_caches``: re-read the archive's
    directory only when its stat key differs from the one this importer
    last read under. The key is taken before reading, so a write that
    races the read costs one more read next time instead of being missed;
    an archive that cannot be stat'ed is handed to the stock re-read."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_key", None):
        _reread(self)
        self._read_key = key


def main() -> None:
    # pyspark.daemon imports the worker module named in sys.argv[1], which
    # creates the zip importers the forked workers inherit
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    # key every importer once here, so forked workers start keyed
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
