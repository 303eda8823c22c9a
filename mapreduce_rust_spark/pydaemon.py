"""The engine's Python worker daemon: ``pyspark.daemon`` with a cheap
import-cache reset.

Spark starts it as ``python -m mapreduce_rust_spark.pydaemon
<worker module>`` (``spark.python.daemon.module``, set by
``get_spark``), and every Python worker kind — UDF, Arrow/pandas UDF,
``applyInPandasWithState``, datasource lookup/plan/read/write — is
forked from it.

Each worker task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.12,
``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole
central directory, once for every zipimporter in
``sys.path_importer_cache``. A worker importing from ``pyspark.zip``
(1328 entries) holds up to 15 of them, one per package directory, so
the reset costs about 40 ms of CPU on every task, most of a no-op
task's time (CPython 3.11.7, 4-core x86 host).

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size, st_ino)`` changed since this process last read it, and points
every importer of that archive at the one parsed directory. An archive
rewritten in place is still picked up on the next reset.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its directory was last read
_STAMPS: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: a change racing the read forces another
    _STAMPS[self.archive] = stamp
    _reread(self)


def main() -> None:
    # 3.12 made zipimporter's reset lazy
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read and stamp each archive once here, so forked workers inherit it
        importlib.invalidate_caches()
    # imported after the patch; keeps sys.argv[1] as the worker-module selector
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the importable copy, so workers can find the patch by its module
    from mapreduce_rust_spark.pydaemon import main

    main()
