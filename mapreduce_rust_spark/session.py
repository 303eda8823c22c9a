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
* ``spark.python.daemon.module`` = ``mapreduce_rust_spark.pydaemon``:
  every Python worker forks from a daemon whose per-task import-cache
  reset skips unchanged zip archives. Under stock ``pyspark.daemon``
  each task re-reads ``pyspark.zip``'s directory once per importer, up
  to 15 times, on Python < 3.12 (about 40 ms); a no-op ``mapInArrow``
  over 32 partitions took 1.32 s with it and 0.53 s without (median of
  8, 4-core x86 host). ``spark.executorEnv.PYTHONPATH`` makes the
  daemon importable whatever the driver's working directory.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SCRATCH_ROOT: str | None = None
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
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
        .config("spark.python.daemon.module", "mapreduce_rust_spark.pydaemon")
        # the daemon (and any engine function a worker unpickles) must
        # import from wherever the driver was started
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
