"""Custom connector via the Python Data Source API (Spark 4).

The reference's input layer is a hand-rolled file scan handed to map
tasks by a coordinator (``worker.rs:109-115``, ``coordinator.rs:38-50``
— file list → round-robin splits → per-task reads). Spark's native
equivalent of "teach the engine a new input" is a DataSource
implementation: the engine asks the source for its partitions and
schedules one task per partition, which is exactly the coordinator's
slice() job, done by the framework.

``DeterministicRangeSource`` is a minimal but complete reader:
partition planning (``partitions()`` → one task per shard, the
round-robin split made declarative), per-partition iteration, and a
fixed schema. Values are pure integer arithmetic so the same relation
is reproducible in any engine — the DuckDB oracle rebuilds it with
``generate_series`` and must hash-match, proving the connector
contract (not just "it runs").

At scale: a production source (database table, message queue, custom
format) implements the same two methods; Spark handles scheduling,
retries, and locality. A partition here = one independently fetchable
shard, so parallelism is the source's shard count — the knob the
reference hardcoded as ``n_map``.
"""

from __future__ import annotations

import functools
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.session import pinned_conf

ORACLE: dict[str, str] = {}

N_ROWS = 4096
N_PARTS = 8

_REGISTER_LOCK = threading.Lock()
# registering function -> the session it last registered its sources in
_REGISTERED: dict[str, SparkSession] = {}


def _once_per_session(register):
    """Run ``register(spark)`` once per session, one thread at a time.

    Registering a name again replaces the source and logs a WARN, so
    each query re-registering would log one per source. The check is
    keyed on the calling session, as ``indexes.session_index`` is: a new
    session has its own, empty source registry. The lock matters because
    Spark checks a name's first registration against every source it can
    resolve and then stores it, so two threads registering one name at
    once can fail with DATA_SOURCE_ALREADY_EXISTS. ``register`` defines
    its classes inside itself, so they pickle by value and a bare
    session's workers need not import this package."""

    @functools.wraps(register)
    def once(spark: SparkSession) -> None:
        with _REGISTER_LOCK:
            if _REGISTERED.get(register.__name__) is not spark:
                register(spark)
                _REGISTERED[register.__name__] = spark

    return once


@_once_per_session
def _register_source(spark: SparkSession) -> None:
    """Register ``mrs_range`` and its filter-pushdown twin
    ``mrs_range_pushdown``; both split the range into the same
    ``N_PARTS`` shards."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class _RangeReader(DataSourceReader):
        lo = 0  # lowest id read; only pushFilters raises it

        def partitions(self):
            step = N_ROWS // N_PARTS
            # last shard absorbs the remainder so every row is emitted
            # even when the constants stop dividing evenly; shards
            # entirely below ``lo`` never become tasks
            shards = [
                _RangePartition(
                    i * step, (i + 1) * step if i < N_PARTS - 1 else N_ROWS
                )
                for i in range(N_PARTS)
            ]
            return [s for s in shards if s.end > self.lo]

        def read(self, partition):
            # One Arrow RecordBatch per partition instead of per-row
            # tuples: the engine ingests the batch zero-copy and skips
            # per-row pickling — the same row-vs-Arrow gap as UDFs
            # (measured ~6× on this source). Values are pure integer
            # math — engine-independent, seed-free.
            import pyarrow as pa

            ids = list(range(max(partition.start, self.lo), partition.end))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([i % 16 for i in ids], pa.int64()),
                    pa.array([(i * i) % 9973 for i in ids], pa.int64()),
                ],
                names=["id", "bucket", "val"],
            )

    class _PushdownReader(_RangeReader):
        """Filter-pushdown-capable reader (Spark 4.1 ``pushFilters``):
        absorbs ``id >= v`` / ``id > v`` (and the planner's implicit
        IsNotNull), PRUNES whole partitions below the bound at
        planning time, and slices the survivor shard — the Python-
        connector analogue of parquet row-group skipping. Absorbed
        filters are the source's obligation (Spark does NOT re-apply
        them), so the emitted ``scan_lo`` column — the effective
        bound the reader actually honored — makes the contract
        value-checkable: if the engine ever stopped offering the
        filter, scan_lo would read 0 and extra rows would appear,
        and the DuckDB oracle would hash-mismatch."""

        def pushFilters(self, filters):
            for f in filters:
                name = type(f).__name__
                col = getattr(f, "attribute", None)
                if name == "IsNotNull" and col == ("id",):
                    continue  # generator never emits nulls
                if name == "GreaterThanOrEqual" and col == ("id",):
                    self.lo = max(self.lo, f.value)
                elif name == "GreaterThan" and col == ("id",):
                    self.lo = max(self.lo, f.value + 1)
                else:
                    yield f  # unsupported → engine applies it

        def read(self, partition):
            import pyarrow as pa

            for batch in super().read(partition):
                yield batch.append_column(
                    "scan_lo", pa.array([self.lo] * batch.num_rows, pa.int64())
                )

    class DeterministicRangeSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint"

        def reader(self, schema):
            return _RangeReader()

    class PushdownRangeSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range_pushdown"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint, scan_lo bigint"

        def reader(self, schema):
            return _PushdownReader()

    spark.dataSource.register(DeterministicRangeSource)
    spark.dataSource.register(PushdownRangeSource)


def _bucket_totals(df: DataFrame, *extra) -> DataFrame:
    """Per-bucket row count and id/val sums (plus ``extra``
    aggregates): the relation every range-source slug checks."""
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("sum_id"),
        F.sum("val").alias("sum_val"),
        *extra,
    )


def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom source and aggregate per bucket — the scan runs
    as N_PARTS parallel tasks (one per InputPartition), then one small
    16-key shuffle."""
    _register_source(spark)
    return _bucket_totals(spark.read.format("mrs_range").load()).orderBy("bucket")


ORACLE["source_python_datasource"] = f"""
WITH src AS (
  SELECT i AS id, i % 16 AS bucket, (i * i) % 9973 AS val
  FROM generate_series(0, {N_ROWS - 1}) AS g(i)
)
SELECT bucket, count(*) AS n,
       CAST(sum(id) AS BIGINT) AS sum_id,
       CAST(sum(val) AS BIGINT) AS sum_val
FROM src GROUP BY bucket ORDER BY bucket
"""


PUSHDOWN_THRESH = 3000


def source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown through a PYTHON data source: the query's
    ``id >= {thresh}`` reaches the connector's ``pushFilters``, which
    prunes shards at planning time and slices the boundary shard —
    scan cost tracks the selected range, not the table. ``scan_lo``
    (min'd per group) certifies the absorbed bound end-to-end; see
    ``_PushdownReader`` for why a silent pushdown regression cannot
    pass the oracle.

    Python-source pushdown is off by default. It is on only while the
    returned frame's plan is optimized, which is where the filters are
    pushed; the frame keeps that plan for every action on it, and the
    session keeps the caller's setting."""
    _register_source(spark)
    with pinned_conf(spark, "spark.sql.python.filterPushdown.enabled", "true"):
        df = (
            spark.read.format("mrs_range_pushdown")
            .load()
            .filter(F.col("id") >= PUSHDOWN_THRESH)
        )
        out = _bucket_totals(df, F.min("scan_lo").alias("scan_lo")).orderBy("bucket")
        out._jdf.queryExecution().optimizedPlan()
    return out


source_python_pushdown.__doc__ = source_python_pushdown.__doc__.format(
    thresh=PUSHDOWN_THRESH
)


ORACLE["source_python_pushdown"] = f"""
WITH src AS (
  SELECT i AS id, i % 16 AS bucket, (i * i) % 9973 AS val
  FROM generate_series({PUSHDOWN_THRESH}, {N_ROWS - 1}) AS g(i)
)
SELECT bucket, count(*) AS n,
       CAST(sum(id) AS BIGINT) AS sum_id,
       CAST(sum(val) AS BIGINT) AS sum_val,
       {PUSHDOWN_THRESH}::BIGINT AS scan_lo
FROM src GROUP BY bucket ORDER BY bucket
"""


@_once_per_session
def _register_sink(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, path: str) -> None:
            self.path = path

    class _JsonDirWriter(DataSourceWriter):
        """Partition-parallel JSON-lines writer with the two-phase
        commit the reference's sink lacked entirely (worker.rs:199-208
        writes final files directly — a crashed worker leaves partial
        output): tasks write temp files and return them as commit
        messages; only the driver-side commit() renames them into
        place, so readers never observe a half-written part. On a
        cluster the path must be shared storage (same contract as the
        reference's ./intermediate dirs, coordinator.rs:146-149)."""

        def __init__(self, options) -> None:
            self.path = options.get("path")

        def write(self, iterator):
            import json as _json
            import os as _os
            import uuid as _uuid

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            _os.makedirs(self.path, exist_ok=True)
            tmp = _os.path.join(
                self.path, f"_tmp-{pid}-{_uuid.uuid4().hex}.jsonl"
            )
            with open(tmp, "w") as fh:
                for row in iterator:
                    fh.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
            return _Msg(tmp)

        def commit(self, messages):
            import os as _os

            for i, m in enumerate(messages):
                _os.replace(
                    m.path,
                    _os.path.join(
                        _os.path.dirname(m.path), f"part-{i:05d}.jsonl"
                    ),
                )

        def abort(self, messages):
            import os as _os

            for m in messages:
                try:
                    _os.remove(m.path)
                except OSError:
                    pass

    class JsonDirSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_jsonsink"

        def writer(self, schema, overwrite):
            return _JsonDirWriter(self.options)

    spark.dataSource.register(JsonDirSink)


def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python WRITER: aggregate the
    range source, write JSON-lines parts via the two-phase-commit
    sink, read the committed files back. The returned frame is the
    read-back — so the oracle match proves the writer's contract
    (partition fan-out, commit rename, faithful values), not just
    that save() returned."""
    from mapreduce_rust_spark.session import scratch_dir

    _register_source(spark)
    _register_sink(spark)
    # a write resolves the sink's name through the calling thread's
    # active JVM session, which threads other than the one that built
    # the session lack (DATA_SOURCE_NOT_FOUND from a thread pool)
    spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
        spark._jsparkSession
    )
    agg = _bucket_totals(spark.read.format("mrs_range").load())
    out = scratch_dir(prefix="mrs_pysink_")
    agg.write.format("mrs_jsonsink").option("path", out).mode("append").save()
    return (
        spark.read.schema("bucket bigint, n bigint, sum_id bigint, sum_val bigint")
        .json(out)
        .orderBy("bucket")
    )


ORACLE["sink_python_datasource"] = ORACLE["source_python_datasource"]


@_once_per_session
def _register_stream_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _RangeStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked micro-batch reader over the deterministic
        range: each ``read`` advances the offset by N_ROWS // 4, so the
        4096-row relation arrives as 4 replayable micro-batches.
        ``readBetweenOffsets`` regenerates any [start, end) slice —
        the exactly-once recovery contract (a restarted query replays
        from the last committed offset and must see identical rows,
        which pure integer arithmetic guarantees)."""

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            if pos >= N_ROWS:
                return iter([]), {"pos": pos}
            # 4 micro-batches: enough to exercise offset tracking and
            # multi-batch state accumulation, while each bounded-replay
            # micro-batch costs python-worker round-trip + state-store
            # commit machinery regardless of volume (measured warm:
            # 8 batches -> 7.3 s, 4 -> 5.8 s at bench scale)
            end = min(pos + N_ROWS // 4, N_ROWS)
            return self._rows(pos, end), {"pos": end}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["pos"], end["pos"])

        @staticmethod
        def _rows(a: int, b: int):
            return iter([(i, i % 16, (i * i) % 9973) for i in range(a, b)])

    class DeterministicRangeStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range_stream"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint"

        def simpleStreamReader(self, schema):
            return _RangeStreamReader()

    spark.dataSource.register(DeterministicRangeStream)


@_once_per_session
def _register_partitioned_stream_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangeSplit(InputPartition):
        def __init__(self, a: int, b: int):
            self.a, self.b = a, b

    class _PartitionedRangeStreamReader(DataSourceStreamReader):
        """Full ``DataSourceStreamReader`` — the SCALE path a
        ``SimpleDataSourceStreamReader`` (driver-side, single-threaded
        ``read``) cannot take: ``latestOffset`` reports what the
        source actually has available, and ``partitions`` splits each
        [start, end) offset range into 8 independent splits that
        Spark schedules as PARALLEL tasks on executors. Offsets are
        pure integer arithmetic, so any split replays identically —
        the same exactly-once recovery contract as the simple reader,
        now with executor-parallel ingestion."""

        def initialOffset(self) -> dict:
            return {"pos": 0}

        def latestOffset(self) -> dict:
            # Report FULL availability. The earlier build paced this
            # (+N_ROWS/2 per poll from a per-instance cursor) to force
            # two micro-batches — unsound across checkpoint restarts:
            # a fresh instance's cursor restarts at 0, and if every
            # batch was already committed, Spark logs the REGRESSED
            # end offset, then the next poll re-plans the committed
            # range and the sink appends duplicates (observed: 6144
            # rows of 4096). A reader has no API to learn the
            # committed position before its first latestOffset, so
            # any artificial pacing can regress; a real source is
            # monotone by construction because it reports actual data
            # availability — this one's data is all available at t=0.
            return {"pos": N_ROWS}

        def partitions(self, start: dict, end: dict):
            # max(a, b) guard: even if a planner handed us a regressed
            # end offset (e.g. an old checkpoint's log), never produce
            # a backwards range.
            a, b = start["pos"], max(start["pos"], end["pos"])
            step = max(1, (b - a) // 8)
            edges = list(range(a, b, step)) + [b]
            return [_RangeSplit(x, y) for x, y in zip(edges, edges[1:])]

        def read(self, partition):
            for i in range(partition.a, partition.b):
                yield (i, i % 16, (i * i) % 9973)

        def commit(self, end: dict) -> None:
            # Fast-forward the pacing cursor past anything already
            # committed, so latestOffset is monotonic across restarts.
            self._pos = max(getattr(self, "_pos", 0), end["pos"])

    class PartitionedRangeStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range_pstream"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint"

        def streamReader(self, schema):
            return _PartitionedRangeStreamReader()

    spark.dataSource.register(PartitionedRangeStream)


def source_python_stream_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same relation as ``source_python_stream``, ingested through the
    PARTITIONED stream reader, which reports its full range to
    ``availableNow``: one micro-batch × 8 executor-parallel splits. Hash-equality against the batch
    oracle proves no split was dropped, duplicated, or mis-ranged —
    the partition-planning contract, on top of exactly-once."""
    from mapreduce_rust_spark.streaming.queries import run_available_now

    _register_partitioned_stream_source(spark)
    sdf = spark.readStream.format("mrs_range_pstream").load()
    return run_available_now(_bucket_totals(sdf), "complete").orderBy("bucket")


ORACLE["source_python_stream_partitioned"] = ORACLE["source_python_datasource"]


def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingestion through a custom Python Data Source: the
    same deterministic relation as ``source_python_datasource``, but
    arriving as 4 offset-tracked micro-batches through a
    ``SimpleDataSourceStreamReader`` into a complete-mode streaming
    aggregation. The oracle is the identical batch SQL — hash-equality
    proves the streaming connector delivered exactly-once semantics
    end-to-end (no dropped or duplicated batch), not just that the
    query ran. availableNow drains only one read() for simple stream
    readers, so the stream runs back-to-back micro-batches until its
    progress reports all N_ROWS input rows, then stops."""
    from mapreduce_rust_spark.streaming.queries import stream_to_memory

    _register_stream_source(spark)
    sdf = spark.readStream.format("mrs_range_stream").load()
    return stream_to_memory(
        _bucket_totals(sdf), "complete", until_rows=N_ROWS
    ).orderBy("bucket")


ORACLE["source_python_stream"] = ORACLE["source_python_datasource"]


QUERIES = {
    "source_python_datasource": source_python_datasource,
    "source_python_pushdown": source_python_pushdown,
    "sink_python_datasource": sink_python_datasource,
    "source_python_stream": source_python_stream,
    "source_python_stream_partitioned": source_python_stream_partitioned,
}
