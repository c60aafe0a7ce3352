"""Python worker entry for the engine's Spark sessions: pyspark's worker
without its per-task re-read of every zip on ``sys.path``.

Every task starts in ``pyspark.worker_util.setup_spark_files``, which
ends with ``importlib.invalidate_caches()``.  On Python 3.11 that makes
each ``zipimporter`` re-read its archive's directory in pure Python: a
worker holds about 16 over the 1328-entry pyspark.zip, and the call
costs 108-232 ms of every task (4 cores).  Zips on the path do not
change during a worker's life, and a zip added by ``addPyFile`` is a new
path that gets a new importer at its first import, so the shim below
does everything ``importlib.invalidate_caches`` does except that re-read.

Spark imports this module through ``spark.python.worker.module``;
``pyspark.daemon`` imports only names that start with ``pyspark``.  It
lives alone in its directory, so putting that directory on the workers'
path shadows nothing.
"""

import importlib
import os
import sys
import zipimport
from importlib import _bootstrap_external
from importlib.machinery import PathFinder

from pyspark import worker_util


def invalidate_caches():
    """``importlib.invalidate_caches`` minus the zip directory re-reads.

    Mirrors ``PathFinder.invalidate_caches`` for the path-entry finders
    (drop ``None`` and relative entries, invalidate every other finder
    but zipimporters, bump the namespace-path epoch), then invalidates
    every meta-path finder except ``PathFinder``, whose own
    invalidation would walk the zipimporters again."""
    for name, finder in list(sys.path_importer_cache.items()):
        if finder is None or not os.path.isabs(name):
            del sys.path_importer_cache[name]
        elif hasattr(finder, "invalidate_caches") and not isinstance(
            finder, zipimport.zipimporter
        ):
            finder.invalidate_caches()
    _bootstrap_external._NamespacePath._epoch += 1
    for finder in sys.meta_path:
        if finder is not PathFinder and hasattr(finder, "invalidate_caches"):
            finder.invalidate_caches()


class ZipStableImportlib:
    """Stands in for the ``importlib`` module inside ``worker_util``."""

    invalidate_caches = staticmethod(invalidate_caches)

    def __getattr__(self, name):
        return getattr(importlib, name)


def _install():
    if hasattr(worker_util, "importlib"):  # else this pyspark needs no shim
        worker_util.importlib = ZipStableImportlib()


def main(infile, outfile):
    """``pyspark.worker.main`` with the shim in place; ``pyspark.daemon``
    calls it once per task."""
    _install()
    worker.main(infile, outfile)


if __name__ == "__main__":
    # spark.python.use.daemon=false: Spark starts each worker as
    # ``python -m pyspark_fastworker``; pyspark.worker must not be
    # imported before it runs as __main__
    import runpy

    _install()
    runpy.run_module("pyspark.worker", run_name="__main__")
else:
    from pyspark import worker  # the daemon imports it once, before forking
