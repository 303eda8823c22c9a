"""Start-up hook for every Python process Spark starts for the engine.

``get_spark`` puts this directory on ``spark.executorEnv.PYTHONPATH``,
so ``site`` imports this file as ``sitecustomize`` when any Python
worker or daemon starts. That covers the UDF daemon and the Python
datasource planner and writer runners, all of which Spark 4.1 starts as
``python -m pyspark.daemon <worker module>``. Only the UDF daemon
imports more than the standard library here (see the end of this
docstring); every other process, planners included, imports nothing
from the engine or pyspark, so a process that needs neither pays
nothing for them.

Each worker task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.12,
``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole
central directory, once for every zipimporter in
``sys.path_importer_cache``. A worker importing from ``pyspark.zip``
(1328 entries) holds up to 15 of them, one per package directory, so
the stock reset costs 40-70 ms on every task, most of a no-op task's
time (CPython 3.11.7, 4-core x86 host).

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size, st_ino)`` changed since this process last read it, and points
every importer of that archive at the one parsed directory. An archive
rewritten in place is still picked up on the next reset. Installing it
reads and stamps every archive imported from so far, so a daemon's
forked workers inherit the stamps and skip even their first re-read.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source
zip first on every worker's ``PYTHONPATH``. They hold ``.py`` files
only, and zipimport never writes bytecode, so each process compiled
pyspark from source: ``import pyspark.daemon`` took 1.59 s from the
archive and 0.48 s from the pip-installed copy (same host). When the
package installed further along ``sys.path`` has a byte-identical
``version.py``, the hook moves the archive entries to the end of
``sys.path``, where they stay as a fallback, and the process imports
the installed copy and its ``__pycache__``. Otherwise ``sys.path`` stays
exactly as Spark built it.

This file shadows any ``sitecustomize`` further along ``sys.path``, so
it runs that one too.

Last, in the UDF daemon (``-m pyspark.daemon`` with worker module
``pyspark.worker``, which Spark also runs when none is given), the hook
imports numpy, pandas, pyarrow and ``pyspark.worker`` and then
``gc.freeze()``s the heap. UDF, Arrow/pandas UDF,
``applyInPandasWithState`` and Python datasource read and write tasks
fork from that daemon, so they share those pages instead of each
importing its own copy, and the ``gc.collect()`` ``pyspark.daemon`` runs
between a reused worker's tasks no longer walks them: 17-22 ms a task
with pandas loaded, under 0.1 ms once frozen (same host). On the
``stream_write`` benchmark this cut the Python processes' peak PSS from
492 to 393 MB (median of 8 runs). The preload runs after the path and
reset changes above, so it imports compiled bytecode. The planner
daemons are left alone: none of their worker modules imports pandas,
and importing numpy, pandas and pyarrow costs 0.69 s.
"""

from __future__ import annotations

import gc
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


def _install() -> None:
    # 3.12 made zipimporter's reset lazy
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read and stamp each archive imported from so far, so forked workers inherit it
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def _archive_version(entry: str, package: str) -> bytes | None:
    """``package/version.py`` of the archive at ``sys.path`` entry
    ``entry``, or None if ``entry`` is not an archive holding it."""
    if not os.path.isfile(entry):
        return None
    try:
        return zipimport.zipimporter(entry).get_data(f"{package}/version.py")
    except (zipimport.ZipImportError, OSError):
        return None


def prefer_installed(package: str) -> None:
    """Move the archives holding ``package`` to the end of ``sys.path``
    if the copy of ``package`` found on the rest of it has the same
    ``version.py`` bytes; otherwise leave ``sys.path`` unchanged."""
    from importlib.machinery import PathFinder

    versions = {entry: _archive_version(entry, package) for entry in sys.path}
    archives = [entry for entry in sys.path if versions[entry] is not None]
    if not archives:
        return
    rest = [entry for entry in sys.path if entry not in archives]
    spec = PathFinder.find_spec(package, rest)
    if spec is None or spec.origin is None:
        return
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return
    if any(versions[entry] != installed for entry in archives):
        return
    sys.path[:] = rest + archives


def _run_shadowed() -> None:
    """Run the next ``sitecustomize`` on ``sys.path`` after this one's
    directory, if there is one."""
    from importlib.machinery import PathFinder
    from importlib.util import module_from_spec

    here = os.path.dirname(os.path.realpath(__file__))
    dirs = [os.path.realpath(p or os.curdir) for p in sys.path]
    start = dirs.index(here) + 1 if here in dirs else 0
    after = [p for p, d in zip(sys.path[start:], dirs[start:]) if d != here]
    spec = PathFinder.find_spec("sitecustomize", after)
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(module_from_spec(spec))


def is_udf_daemon(argv: list[str]) -> bool:
    """Whether ``argv`` (``sys.orig_argv``) starts the daemon Spark forks
    UDF and datasource read and write tasks from."""
    return argv[1:3] == ["-m", "pyspark.daemon"] and argv[3:4] in ([], ["pyspark.worker"])


if __name__ == "sitecustomize":
    for _package in ("pyspark", "py4j"):
        prefer_installed(_package)
    _install()
    _run_shadowed()
    # orig_argv is new in 3.10; without it nothing is preloaded
    if is_udf_daemon(getattr(sys, "orig_argv", [])):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401
        import pyspark.worker  # noqa: F401

        gc.freeze()
