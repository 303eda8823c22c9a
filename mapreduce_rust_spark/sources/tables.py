"""Parquet star-schema sources (the driver's TPC-H-ish testdata).

The reference reads only plain text (``worker.rs:110``); columnar
formats are a capability we add for free via Spark's parquet source
(SURVEY.md §2c "file formats"). Loading goes through ``spark.read
.parquet`` so Catalyst gets predicate pushdown + column pruning on
every downstream query — at 100 TB the scan is the dominant cost and
pruned columns/row-groups are the first-order win.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from mapreduce_rust_spark.indexes import file_stamp

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (session id, sf_dir, table, file stamp) → (raw, normalized) analyzed
# DataFrames: the raw read's schema (before ``normalize_ts``) is what
# ``streaming.queries.read_stream_table`` streams with. A
# load_table call costs ~0.2 s of py4j/footer/conf round-trips; queries
# load 1-4 tables each, so across a 140-query suite the repeated loads
# are a double-digit-seconds tax. DataFrames are immutable logical
# plans — reusing one across queries is free and changes nothing
# downstream. Keyed by id(session) so a fresh session (new JVM state)
# never sees another session's plans; the id is collision-safe ONLY
# because each cached DataFrame holds a reference to its session
# (df.sparkSession), pinning the object alive for the entry's lifetime
# — an invariant any future value type must preserve. The file stamp
# in the key (``indexes.file_stamp``, which also invalidates session
# indexes) drops stale plans when a host rewrites the parquet in place.
_TABLE_CACHE: dict[tuple, tuple[DataFrame, DataFrame]] = {}

# (id(frame), target) → (frame, fanned-out frame): fan_out's partition
# probe (df.rdd → plan-to-RDD translation) and repartition-plan build
# cost ~0.25 s of py4j per call and are pure functions of the input
# frame. The input frame is stored in the value so its id can never be
# recycled onto a different object while the entry lives.
_FANOUT_CACHE: dict[tuple[int, int], tuple[DataFrame, DataFrame]] = {}


def ensure_session_confs(spark: SparkSession) -> None:
    """Re-assert the session confs the loaders depend on. Cheap (two
    conf round-trips), and called on EVERY load — cached frames too —
    because a host application may flip its session timezone between
    queries and the cached logical plans render wall-clock strings at
    execution time under whatever tz is then current."""
    # events.parquet may carry TIMESTAMP(NANOS) columns, which Spark's
    # parquet reader rejects outright unless this legacy conf is on. Our
    # own get_spark() sets it at build time, but the DRIVER (and any
    # embedding application) hands us an arbitrary session — the conf is
    # runtime-settable, so enforce it here where the read happens.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamps are tz-naive wall-clock values; both the nanos restore
    # and the NTZ cast preserve wall-clock only under a UTC session tz.
    # NB: no string default here — RuntimeConfig.get VALIDATES a
    # provided default against the conf entry when the key is unset
    # (an empty-string default throws INVALID_CONF_VALUE).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize a ``ts`` column to TIMESTAMP (LTZ) regardless of how
    the generator wrote it — shared by the batch and streaming loaders
    so both sides see one uniform type. Two physical layouts exist
    across testdata generations:

    * TIMESTAMP(NANOS) -> arrives as long under nanosAsLong; the
      nanos are micro-aligned so ``div 1000`` is lossless;
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) -> arrives as
      TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default; the
      cast is wall-clock-preserving because the session tz is pinned
      to UTC (ensure_session_confs).

    Downstream operators can then use the full TIMESTAMP function
    surface (unix_micros, windows, watermarks) on one uniform type."""
    from pyspark.sql import functions as F

    for col_name, dtype in df.dtypes:
        if col_name == "ts" and dtype == "bigint":
            df = df.withColumn(col_name, F.timestamp_micros(F.expr(f"{col_name} div 1000")))
        elif col_name == "ts" and dtype == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table from ``{sf_dir}/{name}.parquet``."""
    return _load(spark, sf_dir, name)[1]


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The parquet schema of one testdata table as Spark reads it,
    before ``normalize_ts``, from the same cached read as
    ``load_table``."""
    return _load(spark, sf_dir, name)[0].schema


def _load(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, DataFrame]:
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # a missing file stamps None; the Spark reader raises its own error
    key = (id(spark), sf_dir, name, file_stamp(path))
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    raw = spark.read.parquet(path)
    if len(_TABLE_CACHE) > 256:  # bound growth in long-lived hosts
        _TABLE_CACHE.clear()
    _TABLE_CACHE[key] = frames = (raw, normalize_ts(raw))
    return frames


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure at least session-parallelism partitions before a heavy
    per-row compute stage (hashing/shingling/regex/vector math).

    The testdata tables are single-row-group parquet files, so a scan
    yields ONE partition and everything before the first shuffle runs
    single-threaded — a local-mode artifact. On a real cluster a fact
    scan already has ≥ parallelism splits and this is a no-op (the
    partition check costs nothing); it never DOWN-partitions, so it
    cannot hurt an already-parallel plan. Only call it ahead of
    genuinely expensive row-wise work: for scan→shuffle plans the
    extra exchange would be pure overhead."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    key = (id(df), target)
    hit = _FANOUT_CACHE.get(key)
    if hit is not None and hit[0] is df:
        return hit[1]
    nparts = df.rdd.getNumPartitions()
    out = df.repartition(target) if nparts < target else df
    if len(_FANOUT_CACHE) > 256:  # bound growth in long-lived hosts
        _FANOUT_CACHE.clear()
    _FANOUT_CACHE[key] = (df, out)
    return out


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; all tables when no names given."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the testdata tables as temp views so the entire engine
    surface is reachable from ``spark.sql`` — the SQL face of the same
    Catalyst plans the DataFrame queries build. Views are lazy: no
    scan happens until a query runs, and pushdown/pruning behave
    identically to the DataFrame path."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
