"""Structured Streaming jobs driven end-to-end with file sources and
availableNow triggers (deterministic, no timing sleeps)."""

from __future__ import annotations

import pytest


def _run_available_now(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_wordcount(spark, tmp_path):
    from mapreduce_rust_spark.streaming import streaming_wordcount

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("hello world\nhello rust\n")
    lines = spark.readStream.format("text").load(str(src))
    assert lines.isStreaming
    _run_available_now(streaming_wordcount(lines), tmp_path, "wc_stream")
    got = {
        r["word"]: r["cnt"] for r in spark.sql("SELECT * FROM wc_stream").collect()
    }
    assert got == {"hello": 2, "world": 1, "rust": 1}


def test_streaming_event_counts_with_watermark(spark, tmp_path):
    import json

    from mapreduce_rust_spark.streaming import streaming_event_counts

    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"ts": "2024-01-01 00:10:00", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01 00:40:00", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01 01:10:00", "event_type": "view", "value": 3.0},
    ]
    (src / "e.json").write_text("\n".join(json.dumps(r) for r in rows))
    events = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .json(str(src))
    )
    _run_available_now(
        streaming_event_counts(events, window="1 hour", watermark="2 hours"),
        tmp_path,
        "ev_stream",
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["cnt"], r["sum_value"])
        for r in spark.sql("SELECT * FROM ev_stream").collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "click"): (2, 3.0),
        ("2024-01-01 01:00:00", "view"): (1, 3.0),
    }


def test_foreachbatch_incremental_parquet_sink(spark, tmp_path):
    """The production sink pattern: foreachBatch writes each
    micro-batch to parquet partitioned by batch id — idempotent under
    retry (a replayed batch overwrites its own partition, nothing
    else). Verified: all input rows land exactly once."""
    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.txt").write_text(f"row{i}a\nrow{i}b\n")
    out = str(tmp_path / "sink")

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("batch_id", __import__("pyspark").sql.functions.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    q = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .load(str(src))
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["value"] for r in spark.read.parquet(out).collect())
    assert got == sorted(f"row{i}{s}" for i in range(3) for s in "ab")
    # at least two distinct batch partitions prove incremental writes
    assert spark.read.parquet(out).select("batch_id").distinct().count() >= 2


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Restarting an availableNow stream on the same checkpoint must
    process nothing already committed — the exactly-once bookkeeping a
    production pipeline relies on across restarts."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("x\ny\n")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("text")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 2
    run_once()  # same checkpoint, no new input: must be a no-op
    assert spark.read.parquet(out).count() == 2
    (src / "b.txt").write_text("z\n")
    run_once()  # only the NEW file is processed
    got = sorted(r["value"] for r in spark.read.parquet(out).collect())
    assert got == ["x", "y", "z"]


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The watermarked interval join must produce exactly the batch
    join's pairs over a bounded replay."""
    from pyspark.sql import functions as F

    from mapreduce_rust_spark.sources.tables import load_table
    from mapreduce_rust_spark.streaming.queries import streaming_stream_join

    got = {
        r["user_id"]: (r["n_attributed"], r["attributed_value"])
        for r in streaming_stream_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("pts"), "value"
    )
    batch = (
        c.join(p, ["u"])
        .filter((F.col("pts") >= F.col("cts")) & (F.col("pts") <= F.col("cts") + F.expr("interval 1 hour")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {r["u"]: r["n"] for r in batch.collect()}
    assert {k: v[0] for k, v in got.items()} == want


def test_python_stream_source_matches_batch_source(spark):
    """The streaming connector must deliver the exact relation the
    batch connector scans — same totals per bucket, no dropped or
    duplicated micro-batch."""
    from pyspark.sql import functions as F

    from mapreduce_rust_spark.sources.pysource import (
        _register_source,
        source_python_stream,
    )

    got = {
        r["bucket"]: (r["n"], r["sum_id"], r["sum_val"])
        for r in source_python_stream(spark, "ignored").collect()
    }
    _register_source(spark)
    batch = (
        spark.read.format("mrs_range")
        .load()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("val").alias("sum_val"),
        )
    )
    expected = {
        r["bucket"]: (r["n"], r["sum_id"], r["sum_val"]) for r in batch.collect()
    }
    assert got == expected


def test_partitioned_stream_reader_resumes_exactly_once(spark, tmp_path):
    """Stop the partitioned custom reader and restart on the same
    checkpoint: the parquet sink's batch-id log plus the reader's
    pure-arithmetic offset ranges must yield exactly N_ROWS distinct
    rows — no drop, no replay-duplicate. latestOffset reports full
    availability (never an artificially paced cursor): a paced fresh
    instance regressed below the committed offset after restart,
    Spark logged the regressed end, and the next poll re-planned the
    committed range into duplicate sink rows (observed 6144/4096).
    The vulnerable window that remains — offset logged, sink commit
    missing — re-executes the same deterministic range and the sink
    log dedups it."""
    import time

    from mapreduce_rust_spark.sources.pysource import (
        N_ROWS,
        _register_partitioned_stream_source,
    )

    _register_partitioned_stream_source(spark)
    out = str(tmp_path / "rows")
    ckpt = str(tmp_path / "ckpt")

    def run(drain_rows):
        q = (
            spark.readStream.format("mrs_range_pstream")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            # generous: under host contention (parallel Spark
            # sessions) micro-batch commits can take tens of seconds
            deadline = time.time() + 180
            while time.time() < deadline:
                try:
                    n = spark.read.parquet(out).count()
                except Exception:
                    n = 0
                if n >= drain_rows:
                    break
                time.sleep(0.1)
        finally:
            q.stop()
            q.awaitTermination(30)

    run(N_ROWS // 2)  # stop once at least the first micro-batch landed
    run(N_ROWS)  # resume on the same checkpoint: must finish the rest
    df = spark.read.parquet(out)
    assert df.count() == N_ROWS
    assert df.select("id").distinct().count() == N_ROWS


def test_pushdown_source_fallback_for_unsupported_filters(spark):
    """pushFilters absorbs only id-range predicates; anything else it
    must hand BACK so the engine applies it. A modulo predicate rides
    along: the result must honor BOTH filters, with scan_lo proving
    the range half was absorbed by the reader."""
    from pyspark.sql import functions as F

    from mapreduce_rust_spark.sources.pysource import (
        N_ROWS,
        PUSHDOWN_THRESH,
        _register_source,
    )

    _register_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("mrs_range_pushdown")
        .load()
        .filter(
            (F.col("id") >= PUSHDOWN_THRESH) & (F.pmod(F.col("id"), F.lit(2)) == 0)
        )
    )
    rows = df.select("id", "scan_lo").collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == [i for i in range(PUSHDOWN_THRESH, N_ROWS) if i % 2 == 0]
    assert {r["scan_lo"] for r in rows} == {PUSHDOWN_THRESH}


def _offset_log_conf(ckpt: str) -> dict:
    """The session conf a stream's checkpoint recorded for its first
    batch (offset log: version line, then the batch metadata JSON)."""
    import json
    import os

    with open(os.path.join(ckpt, "offsets", "0")) as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


def test_run_stream_pins_partitions_for_the_stream_only(spark, sf_dir, tmp_path):
    """The stream runs (and checkpoints) with the pinned partition
    count while the parent session keeps its own value, both during
    the micro-batches and after."""
    from mapreduce_rust_spark.streaming.queries import read_stream_table, run_stream

    key = "spark.sql.shuffle.partitions"
    parent = spark.conf.get(key)
    target = 3 if parent != "3" else 5
    seen_in_batch = []
    ckpt = str(tmp_path / "ckpt")

    def record(bdf, batch_id):
        bdf.count()  # a stateful batch must consume every partition
        seen_in_batch.append(spark.conf.get(key))

    run_stream(
        spark,
        read_stream_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .count()
        .writeStream.outputMode("complete")
        .foreachBatch(record)
        .option("checkpointLocation", ckpt),
        partitions=target,
    )
    assert seen_in_batch and set(seen_in_batch) == {parent}
    assert spark.conf.get(key) == parent
    assert _offset_log_conf(ckpt)[key] == str(target)


def test_concurrent_run_available_now_keeps_parent_conf(spark, sf_dir):
    """More threads than cores start streams at once, with explicit
    pins and with the default: every result is exact and the parent's
    value (a bare session's 200 here) survives them all."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from mapreduce_rust_spark.sources.tables import load_table
    from mapreduce_rust_spark.streaming.queries import (
        read_stream_table,
        run_available_now,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    want = {
        r["n_regionkey"]: r["count"]
        for r in load_table(spark, sf_dir, "nation").groupBy("n_regionkey").count().collect()
    }

    def run(partitions):
        agg = read_stream_table(spark, sf_dir, "nation").groupBy("n_regionkey").count()
        out = run_available_now(agg, "complete", partitions)
        return {r["n_regionkey"]: r["count"] for r in out.collect()}

    pins = [8, None, 3, None, 5, None]
    switch = sys.getswitchinterval()
    spark.conf.set(key, "200")
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=len(pins)) as pool:
            results = list(pool.map(run, pins, timeout=300))
        assert spark.conf.get(key) == "200"
    finally:
        sys.setswitchinterval(switch)
        spark.conf.set(key, before)
    assert results == [want] * len(pins)


def test_stream_drain_fails_fast_when_the_reader_raises(spark):
    """A stream whose reader raises must surface the reader's error as
    soon as the query dies, not poll on until the drain deadline."""
    import time

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    from mapreduce_rust_spark.streaming.queries import stream_to_memory

    class _RaisingReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            raise ValueError("range reader lost its shard")

        def readBetweenOffsets(self, start, end):
            return iter([])

    class RaisingStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_test_raising_stream"

        def schema(self) -> str:
            return "id bigint"

        def simpleStreamReader(self, schema):
            return _RaisingReader()

    spark.dataSource.register(RaisingStream)
    sdf = spark.readStream.format("mrs_test_raising_stream").load()
    t0 = time.monotonic()
    with pytest.raises(Exception, match="range reader lost its shard"):
        stream_to_memory(sdf, "append", until_rows=10)
    assert time.monotonic() - t0 < 10
    assert not spark.streams.active


def test_stream_runs_leave_no_memory_sink_views(spark, sf_dir):
    """Each run's memory sink gets its own name and its view is
    dropped once the frame is taken; the frames still compute."""
    from mapreduce_rust_spark.sources.pysource import N_ROWS, source_python_stream
    from mapreduce_rust_spark.streaming.queries import (
        read_stream_table,
        run_available_now,
    )

    frames = [source_python_stream(spark, sf_dir) for _ in range(2)]
    frames += [
        run_available_now(read_stream_table(spark, sf_dir, "nation"), "append")
        for _ in range(2)
    ]
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("mrs_stream_")]
    assert left == []
    for df in frames[:2]:
        assert df.agg({"n": "sum"}).collect()[0][0] == N_ROWS
    for df in frames[2:]:
        assert df.count() == 25
