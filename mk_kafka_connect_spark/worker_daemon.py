"""Spark Python worker daemon whose workers keep Spark's own archives read.

Every Python task starts in pyspark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. On Python 3.11 each ``zipimporter``
answers that by re-reading its archive's whole central directory, and a
worker holds about 17 of them over ``pyspark.zip``, the py4j zip and the
15 MB spark-core jar: 0.1-0.3 s per task. Those archives come from the
``PYTHONPATH`` Spark starts the daemon with and do not change while a
worker lives, so ``stable_archives`` makes their importers keep what they
read. Zips added later (``addPyFile``) are not on that list and are still
re-read. Stdlib only, so a worker without this package on its path can run
it by value.

Run as ``python -m mk_kafka_connect_spark.worker_daemon <worker module>``
(``spark.python.daemon.module``): installs the importers, then runs
``pyspark.daemon`` unchanged.
"""

import os
import runpy
import sys
import zipimport


class StableZipImporter(zipimport.zipimporter):
    """``zipimporter`` that skips the re-read for archives in ``archives``."""

    archives: frozenset = frozenset()

    def invalidate_caches(self):
        if self.archive not in self.archives:
            super().invalidate_caches()


def stable_archives() -> None:
    """Route this process's zip imports of the archives named in
    ``PYTHONPATH`` through ``StableZipImporter``: the ``path_hooks`` entry
    and the importers already cached. A no-op when ``PYTHONPATH`` names no
    archive, and on a second call."""
    archives = frozenset(
        os.path.abspath(p)
        for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.isfile(p)
    )
    if not archives:
        return
    StableZipImporter.archives = archives
    sys.path_hooks[:] = [
        StableZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            # Built from zipimport's directory cache: no archive read.
            sys.path_importer_cache[path] = StableZipImporter(path)


if __name__ == "__main__":
    stable_archives()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
