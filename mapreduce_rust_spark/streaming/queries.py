"""Oracle-checked Structured Streaming queries.

The reference is batch-only (SURVEY.md §2c); streams are engine
extension surface. These registry entries run a REAL streaming job —
``readStream`` over the parquet table, ``trigger(availableNow=True)``,
memory sink — then return the sink's contents as a batch DataFrame, so
the driver's DuckDB oracle can value-check streaming semantics against
the equivalent batch SQL.

Why this is a faithful streaming test and not a batch query in
disguise: the plan is an incremental one (StateStore-backed windowed
aggregation / dedup state), the file source feeds data through the
micro-batch engine, and the same code binds unchanged to kafka/socket
sources in production. ``availableNow`` is the bounded-input replay
mode Spark itself provides for exactly this purpose.

Scale notes: windowed aggregations carry watermarks so state is
bounded on a real unbounded source (complete-mode output here is for
oracle determinism over a finite replay — production sinks would use
append/update and let the watermark evict closed windows).
State partitions by (window, event_type) / content hash —
high-cardinality, even spread across executors.
"""

from __future__ import annotations

import os
import time
from itertools import count

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.functions.text import tokenize_whitespace
from mapreduce_rust_spark.session import pinned_conf, scratch_dir

ORACLE: dict[str, str] = {}

_run_ids = count()
_DRAIN_TIMEOUT_S = 120.0


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` twin of ``sources.tables.load_table``: same
    path, same schema, same nanos→timestamp restoration. The raw
    (pre-``normalize_ts``) schema comes from the batch loader's cached
    read, so a repeat call runs no footer-read job."""
    from mapreduce_rust_spark.sources.tables import normalize_ts, raw_schema

    schema = raw_schema(spark, sf_dir, name)
    # the file-stream source requires a directory base path, so stream
    # the dataset dir filtered down to this table's file
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    # identical ts normalization to the batch loader — one shared
    # helper, so a new testdata layout is handled in exactly one place
    return normalize_ts(sdf)


def run_stream(
    spark: SparkSession,
    writer: DataStreamWriter,
    partitions: int | None = None,
    until_rows: int | None = None,
) -> None:
    """Start ``writer`` with ``spark.sql.shuffle.partitions`` pinned
    and run it to the end of the available input.

    Streaming state stores take their partition count from
    ``spark.sql.shuffle.partitions`` at first checkpoint and get NO
    AQE coalescing — in a bare session (the driver's) the 200-default
    means 200 state dirs per stateful operator per micro-batch, a
    ~4× slowdown at test scale. State-store COMMIT overhead (delta
    file per store per partition per micro-batch) dominates a bounded
    local replay: a stream-stream join carries 4 stores/partition,
    and measured wall-clock at 32 vs 8 partitions was 9.6 s vs 3.3 s
    for the same job. But compute-heavy streams lose parallelism
    under a tight cap — the hopping-window agg measured 3.9 s at 8
    vs 1.4 s at 16 in one session — so the default pin is
    min(cores, 16); callers with state-store-heavy plans pass a lower
    ``partitions``. A production stream sizes this to its executor
    count BEFORE first checkpoint (it is frozen thereafter).

    The pin lasts only for ``start()`` (see ``run_available_now``);
    ``pinned_conf``'s lock makes the set/start/restore atomic across
    threads starting streams.

    ``until_rows=None`` runs ``trigger(availableNow=True)`` to
    completion. Sources that cannot drain under ``availableNow``
    (a ``SimpleDataSourceStreamReader`` gets one ``read()``) pass the
    number of input rows to wait for instead: the stream runs
    back-to-back micro-batches until its progress reports that many
    input rows (a batch's progress is posted after its sink commit),
    then stops. A stream that dies raises its exception at once; one
    that is still short at the deadline raises ``TimeoutError``."""
    target = str(
        partitions
        if partitions is not None
        else min(spark.sparkContext.defaultParallelism, 16)
    )
    if until_rows is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="0 seconds")
    with pinned_conf(spark, "spark.sql.shuffle.partitions", target):
        query = writer.start()
    if until_rows is None:
        query.awaitTermination()
        return
    deadline = time.monotonic() + _DRAIN_TIMEOUT_S
    try:
        # awaitTermination raises the stream's exception as soon as it
        # has failed, so a dead stream is never polled to the deadline
        while not query.awaitTermination(0.05):
            seen = sum(p.numInputRows for p in query.recentProgress)
            if seen >= until_rows:
                return
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"stream {query.name or query.id} saw {seen} of"
                    f" {until_rows} rows in {_DRAIN_TIMEOUT_S:.0f} s"
                )
        raise RuntimeError(f"stream {query.name or query.id} stopped early")
    finally:
        query.stop()


def run_available_now(
    sdf: DataFrame, output_mode: str, partitions: int | None = None
) -> DataFrame:
    """Run a streaming DataFrame over the currently available input
    into a memory sink (``run_stream``, ``availableNow``) and return
    the sink as a batch frame.

    ``spark.sql.shuffle.partitions`` is pinned (``partitions``, else
    min(cores, 16)) only while ``start()`` runs. That is enough on
    Spark 4.1.2 because the ``StreamExecution`` constructor, which
    ``start()`` runs, calls ``cloneSession()``: the stream keeps the
    pinned value (its checkpoint's offset log records it) while the
    parent session has its own value back before the first
    micro-batch."""
    return stream_to_memory(sdf, output_mode, partitions)


def stream_to_memory(
    sdf: DataFrame,
    output_mode: str,
    partitions: int | None = None,
    until_rows: int | None = None,
) -> DataFrame:
    """``run_stream`` into a memory sink under a name unique to this
    run; the sink's temp view is dropped once its frame is taken (the
    frame keeps its own reference to the sink's rows)."""
    spark = sdf.sparkSession
    name = f"mrs_stream_{next(_run_ids)}"
    writer = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", scratch_dir(prefix="mrs_ckpt_"))
    )
    try:
        run_stream(spark, writer, partitions, until_rows)
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1 h windowed count/sum over the events stream — the
    streaming twin of the batch ``events_hourly`` query, value-checked
    against the identical SQL."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("raw_sum"))
    )
    out = run_available_now(agg, "complete")
    return out.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "cnt",
        fround(F.col("raw_sum")).alias("sum_value"),
    )


ORACLE["streaming_events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, count(*) AS cnt, floor(round((sum(value)), 6) * 100) / 100 AS sum_value
FROM events GROUP BY 1, 2
"""


def streaming_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's wordcount as an incremental stateful query over
    a documents stream (running per-word frequencies)."""
    docs = read_stream_table(spark, sf_dir, "documents")
    agg = (
        docs.select(F.explode(tokenize_whitespace("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_available_now(agg, "complete")


ORACLE["streaming_wordcount"] = """
SELECT w AS word, count(*) AS cnt FROM (
  SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents
) t WHERE w <> '' GROUP BY w
"""


def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: first-seen content hashes
    survive, duplicates are dropped by the engine's dedup state store
    (``dropDuplicates`` on a stream). Projected to the hash so the
    result is order-independent and oracle-checkable."""
    docs = read_stream_table(spark, sf_dir, "documents")
    deduped = docs.select(F.md5("text").alias("content_hash")).dropDuplicates(
        ["content_hash"]
    )
    return run_available_now(deduped, "append")


ORACLE["streaming_dedup_exact"] = """
SELECT DISTINCT md5(text) AS content_hash FROM documents
"""


def streaming_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` — unlike plain
    ``dropDuplicates`` (whose key state grows forever and eventually
    OOMs a 100 TB/day pipeline), this variant guarantees dedup only
    for duplicates arriving within the watermark delay and EXPIRES
    key state once the watermark passes, making it the only dedup
    operator that can run indefinitely. Keyed on (user_id,
    event_type); the delay exceeds the dataset's whole time span, so
    no state expires during the bounded replay and the result equals
    the global distinct — which is exactly what makes the
    bounded-state API value-checkable against batch SQL. Output is
    projected to the key columns (duplicate rows differ in ts, and
    which physical row survives is arrival-order-dependent — the KEY
    SET is the deterministic contract)."""
    ev = read_stream_table(spark, sf_dir, "events")
    deduped = (
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_available_now(deduped, "append").orderBy("user_id", "event_type")


ORACLE["streaming_dedup_watermarked"] = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization
    (30-min inactivity) with ``applyInPandasWithState`` — per-user
    state carries (last event time, session count, event count) across
    micro-batches, the semantics Spark's built-in windows can't
    express (a session boundary depends on the PREVIOUS event, not a
    fixed grid). Value-checked against the batch lag-window SQL.

    Emitted counts are cumulative and monotone, so the final answer is
    the per-user max over everything the update-mode sink saw —
    batch-count independent. State is one tiny tuple per user_id
    (high cardinality, evenly spread); production would add a state
    timeout to retire idle users."""
    import numpy as np
    import pandas as pd

    ev = read_stream_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    GAP_US = 30 * 60 * 1_000_000  # 30 min in integer microseconds

    def update(key, pdfs, state):
        # state carries epoch MICROSECONDS as double (exact: micros fit
        # a double's 52-bit mantissa until year ~2255); gap comparison
        # stays in integers so a gap of exactly 30 min is never
        # misclassified by float noise. The whole batch is vectorized —
        # a python per-row loop here was the suite's slowest operator.
        last_us, n_sess, n_ev = state.get if state.exists else (None, 0, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        us = (rows["ts"].astype("int64") // 1000).to_numpy()
        if len(us):
            n_sess += int((np.diff(us) > GAP_US).sum())
            n_sess += 1 if last_us is None else int(us[0] - int(last_us) > GAP_US)
            n_ev += len(us)
            last_us = float(us[-1])
        state.update((last_us, n_sess, n_ev))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sess], "n_events": [n_ev]}
        )

    sessions = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_sessions bigint, n_events bigint",
        stateStructType="last_ts double, n_sessions bigint, n_events bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    out = run_available_now(sessions, "update")
    return out.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"), F.max("n_events").alias("n_events")
    )


ORACLE["streaming_sessionize"] = """
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
) GROUP BY user_id
"""


def streaming_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC compaction: treat the events stream as an upsert
    feed keyed by user_id and maintain each key's LATEST record
    (ordered by ts, then event_id) plus an update count — the
    materialized-view-maintenance primitive behind every streaming
    MERGE/upsert sink. Built on ``applyInPandasWithState``: the state
    is one tiny (ts, event_id, value, n) tuple per key, batches are
    processed vectorized, and emitted snapshots are cumulative, so the
    final answer is each key's highest-n emission — batch-count
    independent (same extraction pattern as streaming_sessionize).
    At scale: state is O(live keys), evenly hash-spread; production
    adds a TTL timeout for retired keys."""
    import pandas as pd

    ev = read_stream_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )

    def update(key, pdfs, state):
        last_us, last_id, last_val, n = (
            state.get if state.exists else (None, None, None, 0)
        )
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if len(rows):
            n += len(rows)
            tail = rows.iloc[-1]
            us = int(tail["ts"].value // 1000)
            if last_us is None or (us, int(tail["event_id"])) > (int(last_us), int(last_id)):
                last_us, last_id, last_val = us, int(tail["event_id"]), float(tail["value"])
        state.update((last_us, last_id, last_val, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_us": [last_us],
                "last_event_id": [last_id],
                "last_value": [last_val],
                "n_updates": [n],
            }
        )

    latest = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, last_us bigint, last_event_id bigint, "
            "last_value double, n_updates bigint"
        ),
        stateStructType="last_us bigint, last_event_id bigint, last_value double, n bigint",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    out = run_available_now(latest, "update")
    final = out.groupBy("user_id").agg(
        F.max_by("last_us", "n_updates").alias("last_us"),
        F.max_by("last_event_id", "n_updates").alias("last_event_id"),
        F.max_by("last_value", "n_updates").alias("last_value"),
        F.max("n_updates").alias("n_updates"),
    )
    return final.select(
        "user_id",
        F.date_format(F.timestamp_micros(F.col("last_us")), "yyyy-MM-dd HH:mm:ss").alias(
            "last_seen"
        ),
        "last_event_id",
        fround("last_value").alias("last_value"),
        "n_updates",
    )


ORACLE["streaming_cdc_latest"] = f"""
SELECT user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
       event_id AS last_event_id,
       {fround_sql("value")} AS last_value,
       n_updates
FROM (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rk,
         count(*) OVER (PARTITION BY user_id) AS n_updates
  FROM events
) WHERE rk = 1
"""


def streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joins the
    static customer dimension (broadcast — the stream side never
    shuffles for the join), then rolls up spend per market segment.
    The canonical "enrich events with a slowly-changing dim" pattern;
    on a real cluster the static side is re-read per micro-batch, so
    dimension updates between batches are picked up automatically."""
    from mapreduce_rust_spark.sources.tables import load_table

    ev = read_stream_table(spark, sf_dir, "events").select("user_id", "value")
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("raw_sum"))
    )
    out = run_available_now(agg, "complete")
    return out.select(
        "c_mktsegment", "n_events", fround(F.col("raw_sum")).alias("sum_value")
    )


ORACLE["streaming_enrich_join"] = """
SELECT c_mktsegment, count(*) AS n_events,
       floor(round((sum(value)), 6) * 100) / 100 AS sum_value
FROM events JOIN customer ON c_custkey = user_id
GROUP BY 1
"""


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join: click events joined to purchase
    events by the same user within the following hour — the
    attribution join ("which click preceded this purchase") that
    needs state on BOTH sides. Watermarks bound the join state: a
    click older than watermark − 1 h can never match a future
    purchase and is evicted; production state size is
    O(events per hour), not O(stream length). Joined in append mode
    (interval joins emit once the match window closes), then rolled
    up per user for an order-independent oracle check."""
    ev1 = read_stream_table(spark, sf_dir, "events")
    ev2 = read_stream_table(spark, sf_dir, "events")
    clicks = (
        ev1.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev2.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"
        ),
    )
    # 8 partitions: this plan commits 4 state stores per partition per
    # micro-batch; measured 3.3 s at 8 vs 9.6 s at 32, and the
    # 16-partition session default still pays ~2× the 8-partition
    # commit fan-out for the same bounded replay
    out = run_available_now(joined, "append", partitions=8)
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_attributed"),
        fround(F.sum("p_value")).alias("attributed_value"),
    )


ORACLE["streaming_stream_join"] = """
SELECT c.user_id, count(*) AS n_attributed,
       floor(round((sum(p.value)), 6) * 100) / 100 AS attributed_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id
"""


def streaming_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the attribution join
    with the semantics production actually needs: a click that never
    converts must still emit (null-padded) so downstream funnels see
    the denominator. Unlike the inner join, the null side can only
    emit when the WATERMARK proves no future purchase can match
    (c_ts + 1 h < watermark) — the state-eviction contract this slug
    value-checks. Over the bounded replay the final watermark is
    max(ts) − 2 h; clicks younger than max(ts) − 3 h sit in the
    undecided tail and are withheld, so the output is restricted to
    the decidable domain (a 1-minute margin guards the exact
    boundary tie, applied identically in the oracle). Per user:
    emitted clicks, unattributed clicks (the null rows), attributed
    value."""
    ev1 = read_stream_table(spark, sf_dir, "events")
    ev2 = read_stream_table(spark, sf_dir, "events")
    clicks = (
        ev1.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev2.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"
        ),
        "leftOuter",
    )
    out = run_available_now(joined, "append", partitions=8)
    from mapreduce_rust_spark.sources.tables import load_table

    bound = load_table(spark, sf_dir, "events").agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("interval 3 hours 1 minute")
        ).alias("b")
    )
    return (
        out.crossJoin(F.broadcast(bound))
        .filter(F.col("c_ts") < F.col("b"))
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("p_value").isNull().cast("bigint")).alias(
                "n_unattributed"
            ),
            fround(F.sum(F.coalesce("p_value", F.lit(0.0)))).alias(
                "attributed_value"
            ),
        )
        .orderBy("user_id")
    )


ORACLE["streaming_join_left_outer"] = """
WITH bound AS (
  SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
               max(CASE WHEN event_type = 'purchase' THEN ts END))
         - INTERVAL 3 HOUR - INTERVAL 1 MINUTE AS b
  FROM events),
c AS (SELECT user_id, ts, event_id FROM events, bound
      WHERE event_type = 'click' AND ts < bound.b),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.user_id, p.value
  FROM c LEFT JOIN p
    ON p.user_id = c.user_id
   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unattributed,
       floor(round((sum(coalesce(value, 0.0))), 6) * 100) / 100
         AS attributed_value
FROM j GROUP BY user_id ORDER BY user_id
"""


def streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows on the stream: the SAME window('1 hour', '15
    minutes') expression as the batch window_sliding_counts slug,
    bound to the events stream with a watermark — batch/stream parity
    for sliding aggregations, checked against the identical SQL.
    State is one row per (slot, type); the watermark retires slots
    older than 2 h on a live source."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_available_now(agg, "complete")
    return out.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm").alias("win_start"),
        "event_type",
        "cnt",
    )


ORACLE["streaming_hopping_counts"] = """
WITH slotted AS (
  SELECT event_type,
         to_timestamp((epoch_us(ts) // 900000000) * 900 - i.i * 900) AS win_start
  FROM events, unnest(generate_series(0, 3)) AS i(i)
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS win_start, event_type,
       count(*) AS cnt
FROM slotted
GROUP BY 1, 2
"""


def streaming_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational state-store introspection (Spark 4 state data
    source): run the per-type streaming count to completion, then read
    the aggregation's STATE STORE back as a batch DataFrame from the
    checkpoint — the debugging/ops surface that answers "what does my
    stream believe right now" without touching the running query. The
    oracle is the plain batch aggregation: hash-equality proves the
    state contents themselves (not the sink output) are exactly the
    counts — state corruption, lost micro-batches, or misrouted keys
    would all surface here. Reading state scales with state size (one
    row per key per shard), never with the replayed stream."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    ckpt = scratch_dir(prefix="mrs_state_inspect_")
    run_stream(
        spark,
        agg.writeStream.format("noop")
        .outputMode("complete")
        .option("checkpointLocation", ckpt),
    )
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("cnt"),
    ).orderBy("event_type")


ORACLE["streaming_state_inspect"] = """
SELECT event_type, count(*) AS cnt
FROM events GROUP BY 1 ORDER BY 1
"""


def streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` MERGE/upsert SINK — the other half of the CDC
    story: ``streaming_cdc_latest`` compacts upserts INSIDE the stream
    (state store); this slug applies each micro-batch to an external
    keyed table (latest row per bucket), the pattern every
    Delta/Iceberg-less parquet upsert pipeline uses. Each batch
    writes a NEW version directory keyed by batch_id (overwrite is
    idempotent per batch id → exactly-once under retries), merging
    the previous version with the batch via one per-key window. The
    source is the deterministic 4-micro-batch Python stream, so the
    final table is value-checkable: hash-equality against the batch
    argmax proves no batch was dropped, duplicated, or misordered
    through the sink protocol."""
    from pyspark.sql import Window

    from mapreduce_rust_spark.sources.pysource import (
        N_ROWS,
        _register_stream_source,
    )

    _register_stream_source(spark)
    sdf = spark.readStream.format("mrs_range_stream").load()
    base = scratch_dir(prefix="mrs_fbu_")
    holder: dict[str, str | None] = {"path": None}

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        cur = bdf.select("bucket", "id", "val")
        if holder["path"] is not None:
            cur = bdf.sparkSession.read.parquet(holder["path"]).unionByName(cur)
        w = Window.partitionBy("bucket").orderBy(F.col("id").desc())
        latest = (
            cur.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        new_path = os.path.join(base, f"v{batch_id}")
        # 16 rows per version: one file, no shuffle-width file churn
        latest.coalesce(1).write.mode("overwrite").parquet(new_path)
        holder["path"] = new_path

    run_stream(
        spark,
        sdf.writeStream.foreachBatch(upsert).option(
            "checkpointLocation", scratch_dir(prefix="mrs_fbu_ckpt_")
        ),
        until_rows=N_ROWS,
    )
    return (
        spark.read.parquet(holder["path"])
        .select(
            "bucket",
            F.col("id").alias("latest_id"),
            F.col("val").alias("latest_val"),
        )
        .orderBy("bucket")
    )


ORACLE["streaming_foreachbatch_upsert"] = """
WITH r AS (
  SELECT i AS id, i % 16 AS bucket, (i * i) % 9973 AS val
  FROM range(0, 4096) t(i)
)
SELECT bucket, id AS latest_id, val AS latest_val FROM r
QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY id DESC) = 1
ORDER BY bucket
"""


def streaming_append_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregation — the production output mode
    ``streaming_events_hourly`` (complete mode, for replay
    determinism) deliberately avoids: in append mode a window emits
    exactly ONCE, when the watermark passes its end, and late rows
    beyond the watermark are dropped — so the sink is an immutable
    log of FINALIZED windows. Over the bounded replay the final
    watermark is max(event time) − 2 h, so the emitted set is
    precisely the windows with end ≤ that bound: the oracle
    recomputes it analytically, value-checking the engine's
    watermark/finalization semantics themselves (3370 of 3385 groups
    at sf0.01 — the open tail windows correctly withheld)."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_available_now(agg, "append")
    return out.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "cnt",
    )


ORACLE["streaming_append_finalized"] = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, count(*) AS cnt
FROM events, wm
WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
"""


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE gap sessionization — ``F.session_window`` (the built-in
    dynamic-gap window, vs ``streaming_sessionize``'s
    applyInPandasWithState custom-state form): 30-min-inactivity
    sessions per user in APPEND mode, so a session row emits exactly
    once, when the watermark (max event time − 2 h over the bounded
    replay) passes its end = last event + gap. Output is the
    session-size histogram over finalized sessions. The oracle
    recomputes sessions as lag-islands — new session when the gap is
    ≥ 30 min in exact integer microseconds, matching Spark's
    strict-overlap merge rule — and applies the same finalization
    bound analytically. State is one interval per open (user,
    session): high-cardinality keys, evenly spread, retired by the
    watermark — the native operator a 100 TB clickstream wants before
    reaching for custom state."""
    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_available_now(agg, "append")
    return (
        out.groupBy("n_events")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("n_events")
    )


ORACLE["streaming_session_window"] = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   IS NULL
               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sess_id
  FROM marked
),
per_sess AS (
  SELECT user_id, sess_id, count(*) AS n_events,
         max(ts) + INTERVAL 30 MINUTE AS sess_end
  FROM sess GROUP BY 1, 2
)
SELECT n_events, count(*) AS n_sessions
FROM per_sess, wm
WHERE sess_end <= wm.w
GROUP BY 1 ORDER BY 1
"""


def streaming_batch_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture reconciliation AS AN ARTIFACT: the
    streaming hourly rollup (real micro-batch execution, watermarked,
    complete mode) full-outer-joined against the batch recompute of
    the same aggregation, reporting window counts, value-equal
    matches, and each side's orphans. Serving layers drift from
    replays, late data, and state-store bugs — the audit that proves
    stream ≡ batch on the same input is the first dashboard a
    streaming platform stands up, and making it a registry slug pins
    it to the oracle gate (expected: perfect parity, zero orphans).
    Cost: one streamed pass + one batch pass over events, then a
    |windows|-sized join."""
    from mapreduce_rust_spark.sources.tables import load_table

    ev = read_stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("raw_sum"))
    )
    stream = run_available_now(agg, "complete").select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        F.col("cnt").alias("s_cnt"),
        fround(F.col("raw_sum")).alias("s_sum"),
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("b_cnt"),
            fround(F.sum("value")).alias("b_sum"),
        )
    )
    j = stream.join(batch, ["hour", "event_type"], "full_outer")
    matched = (
        F.col("s_cnt").isNotNull()
        & F.col("b_cnt").isNotNull()
        & (F.col("s_cnt") == F.col("b_cnt"))
        & (F.col("s_sum") == F.col("b_sum"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(matched.cast("bigint")).alias("n_matched"),
        F.sum(
            (F.col("b_cnt").isNull()).cast("bigint")
        ).alias("n_stream_only"),
        F.sum(
            (F.col("s_cnt").isNull()).cast("bigint")
        ).alias("n_batch_only"),
    )


ORACLE["streaming_batch_parity_audit"] = """
SELECT count(*) AS n_windows,
       count(*) AS n_matched,
       CAST(0 AS BIGINT) AS n_stream_only,
       CAST(0 AS BIGINT) AS n_batch_only
FROM (
  SELECT DISTINCT date_trunc('hour', ts), event_type FROM events
)
"""


QUERIES = {
    "streaming_join_left_outer": streaming_join_left_outer,
    "streaming_session_window": streaming_session_window,
    "streaming_batch_parity_audit": streaming_batch_parity_audit,
    "streaming_state_inspect": streaming_state_inspect,
    "streaming_foreachbatch_upsert": streaming_foreachbatch_upsert,
    "streaming_append_finalized": streaming_append_finalized,
    "streaming_events_hourly": streaming_events_hourly,
    "streaming_wordcount": streaming_wordcount,
    "streaming_dedup_exact": streaming_dedup_exact,
    "streaming_dedup_watermarked": streaming_dedup_watermarked,
    "streaming_sessionize": streaming_sessionize,
    "streaming_enrich_join": streaming_enrich_join,
    "streaming_cdc_latest": streaming_cdc_latest,
    "streaming_stream_join": streaming_stream_join,
    "streaming_hopping_counts": streaming_hopping_counts,
}
