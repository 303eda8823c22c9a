"""SparkSession factory with scale-oriented defaults.

The reference hand-rolls its control plane (tarpc coordinator/worker,
``coordinator.rs:171-211``); all of that is subsumed by Spark. The only
engine-level knobs we own are the session configs below, chosen for the
100 TB design point and safe on local[32]:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  — replaces the reference's static ``n_map``/``n_reduce`` sizing
  (``coordinator.rs:38-59``).
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalescing makes the initial number a ceiling, not a
  target.
* Arrow enabled so every Pandas-UDF path is vectorized batch transfer.
* ``ignoreCorruptFiles`` mirrors the reference's skip-unreadable-input
  semantics (``worker.rs:109-115``: bad files are warned and skipped,
  not fatal).
* Every Python process Spark starts gets a cheap import-cache reset.
  ``spark.executorEnv.PYTHONPATH`` holds the package root and
  ``workerboot/``, whose ``sitecustomize.py`` installs the reset when
  the interpreter starts. That reaches the UDF daemon and also the
  Python datasource planner and writer runners, which Spark always
  starts as stock ``pyspark.daemon``. Under the stock reset each task
  re-reads ``pyspark.zip``'s directory once per importer, up to 15
  times, on Python < 3.12 (40-70 ms); a no-op ``mapInArrow`` over 32
  partitions took 1.32 s with it and 0.53 s without (median of 8,
  4-core x86 host). The same hook moves Spark's source-only
  ``pyspark.zip`` and py4j zip behind the pip-installed pyspark and
  py4j when their ``version.py`` bytes match, so each process imports
  compiled bytecode instead of compiling pyspark from the archive
  (``import pyspark.daemon``: 1.59 s from the zip, 0.48 s installed).
  Without a matching installed copy, ``sys.path`` stays as Spark built
  it. In the UDF daemon, which UDF, Arrow/pandas UDF and datasource
  read and write tasks fork from, the hook also preloads pyarrow,
  pandas and numpy and GC-freezes them, so the workers share those
  pages and skip them in their per-task ``gc.collect()``.
* A bare session (``MRS_PLAIN_SESSION=1`` in the correctness tools)
  sets none of this: its workers get neither the hook nor the preload.

Engine code that needs a session conf for one step sets it through
``pinned_conf``, never with a bare ``spark.conf.set``: a caller hands
the engine its own session, and a conf left behind changes every
later query in it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_SCRATCH_ROOT: str | None = None
_CONF_LOCK = threading.Lock()
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_BOOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workerboot")


def scratch_dir(prefix: str = "mrs_") -> str:
    """A fresh temp directory under ONE per-process scratch root that
    is removed at interpreter exit. Sinks and streaming checkpoints
    must allocate here, never via bare ``tempfile.mkdtemp`` — a bench
    or correctness sweep runs dozens of write-path queries and a
    data-sized parquet copy leaked per run adds up fast."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="mrs_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set session conf ``key`` to ``value`` for the ``with`` body, then
    put back the parent's exact state: its value, or unset if it was
    unset. One module lock covers the save, set, body and restore, so
    threads pinning confs never see or restore each other's pins; the
    lock is not re-entrant, so pins do not nest."""
    with _CONF_LOCK:
        # explicitly set only: get() would return an unset key's default
        parent = spark.conf.get(key) if spark.conf._jconf.contains(key) else None
        spark.conf.set(key, value)
        try:
            yield
        finally:
            spark.conf.unset(key)
            if parent is not None:
                spark.conf.set(key, parent)


def get_spark(
    app_name: str = "mapreduce_rust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``) so tests and bench share one code path; on a real
    cluster the caller passes the cluster master and the same tuning
    applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.ignoreCorruptFiles", "true")
        # read TIMESTAMP(NANOS) parquet (unsupported natively) as long;
        # sources.tables converts back to timestamp losslessly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # any engine function a worker unpickles must import from
        # wherever the driver was started; workerboot's sitecustomize
        # runs in every Python process Spark starts
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join((_PACKAGE_ROOT, _WORKER_BOOT)))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
