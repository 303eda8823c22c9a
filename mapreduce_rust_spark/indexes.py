"""Session indexes: artifacts built once and shared by many queries.

A session index is a frame several queries consume — MinHash
signatures, LSH candidate pairs, a fitted model. The first caller
builds it and ``localCheckpoint``s it; later callers get the same
object back. This is the engine's multi-query sharing layer: the
reference re-reads its inputs on every job and shares nothing.

Every index kind calls :func:`session_index`. Its dict holds one entry
per ``(sf_dir, tag)``. The entry also records the session that built
it and the dataset's input stamp: :func:`file_stamp` of each
``TABLE_NAMES`` file under ``sf_dir``. The entry is rebuilt and
replaced when a call comes from another session, or after any of those
files was rewritten. So a stale or dead frame is never served, and the
dict is bounded by index kinds × datasets.

:data:`INDEX_BUILD_SECONDS` charges each tag its exclusive build time.
An index built inside another build (``pairs-k3-t0.5`` needs
``sig-k3``) is charged to its own tag, and its time is subtracted from
the outer build's, so the ledger sums to no more than wall time.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# (sf_dir, tag) -> (owning session, input stamp, index)
_INDEXES: dict[tuple[str, str], tuple] = {}

# tag -> exclusive build seconds, summed over every build in this process
INDEX_BUILD_SECONDS: dict[str, float] = {}

# One lock for every build. The plan audit builds plans from a thread
# pool, and a nested build re-enters the lock on the same thread.
_LOCK = threading.RLock()

# seconds spent in nested builds, one slot per build in progress
_NESTED_SECONDS: list[float] = []


def file_stamp(path: str) -> tuple[int, int, int] | None:
    """``(st_mtime_ns, st_size, st_ino)`` of ``path``, or None if it is
    missing. Any rewrite of the file changes it."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _input_stamp(sf_dir: str) -> tuple:
    from mapreduce_rust_spark.sources.tables import TABLE_NAMES

    return tuple(file_stamp(os.path.join(sf_dir, f"{n}.parquet")) for n in TABLE_NAMES)


def session_index(spark: SparkSession, sf_dir: str, tag: str, build: Callable):
    """The ``tag`` index of the dataset at ``sf_dir`` for ``spark``.

    On a miss, ``build()`` runs under the registry lock. A DataFrame
    result is ``localCheckpoint``ed; any other value (a side-input
    path) is stored as is."""
    key, stamp = (sf_dir, tag), _input_stamp(sf_dir)
    with _LOCK:
        hit = _INDEXES.get(key)
        if hit is not None and hit[0] is spark and hit[1] == stamp:
            return hit[2]
        _NESTED_SECONDS.append(0.0)
        t0 = time.perf_counter()
        try:
            index = build()
            if isinstance(index, DataFrame):
                index = index.localCheckpoint()
        finally:
            took = time.perf_counter() - t0
            nested = _NESTED_SECONDS.pop()
            if _NESTED_SECONDS:
                _NESTED_SECONDS[-1] += took
        INDEX_BUILD_SECONDS[tag] = INDEX_BUILD_SECONDS.get(tag, 0.0) + took - nested
        _INDEXES[key] = (spark, stamp, index)
        return index
