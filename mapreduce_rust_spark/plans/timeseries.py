"""Time-series operators over the events stream table: dense hourly
rollup (gap-filled) and per-entity event deltas.

Nothing comparable exists in the reference (batch wordcount only);
this is the hypertable-style surface a telemetry/training-data
pipeline expects. Both queries are single-fact-shuffle plans:

* gap-fill: the dense (hour × event_type) grid is generated from one
  tiny bounds aggregate (``sequence`` + explode, then a broadcast
  cross join) and LEFT-joined against the hourly aggregate — the
  events fact is scanned and shuffled exactly once; grid size is
  |hours| × |types|, independent of row count.
* lag delta: one window shuffle partitioned by user_id (high
  cardinality — even spread), arithmetic on integer epochs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql, single_partition
from mapreduce_rust_spark.functions.text import hash64, hash64_sql
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}


def ts_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly counts per event type: hours with no events appear
    with cnt = 0 (the gap-fill a naive GROUP BY silently drops)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    # broadcast the non-preserved (right) side: a hint on the left
    # side of a left-outer join is invalid and Spark discards it with
    # a HintErrorLogger warning. The aggregate is ≤ |hours|×|types|
    # rows — broadcast-sized by construction.
    return (
        grid.join(F.broadcast(hourly), ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
            F.coalesce(F.col("c"), F.lit(0)).alias("cnt"),
        )
    )


ORACLE["ts_gapfill_hourly"] = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT strftime(h.hour, '%Y-%m-%d %H:00') AS hour, t.event_type,
       coalesce(c, 0) AS cnt
FROM hours h CROSS JOIN types t
LEFT JOIN hourly ON hourly.hour = h.hour AND hourly.event_type = t.event_type
"""


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gaps: lag/lead over the user's timeline.
    delta_sec is NULL for each user's first event (no predecessor)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    next_ts = F.lead("ts").over(w)
    # integer microseconds end to end: unix_timestamp() would truncate
    # to whole seconds while the oracle's epoch() keeps fractions —
    # sub-second timestamps then disagree by one
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_micros("ts") - F.unix_micros(prev_ts)).alias("delta_us"),
        (F.unix_micros(next_ts) - F.unix_micros("ts")).alias("next_gap_us"),
    )


ORACLE["window_lag_delta"] = """
SELECT user_id, event_id,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS delta_us,
       epoch_us(lead(ts) OVER w) - epoch_us(ts) AS next_gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth in one pass: ntile quartiles,
    percent_rank, cume_dist, and nth_value over each priority's
    order-value ordering. One window shuffle; ordering key includes
    the unique o_orderkey so every function is deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.filter(F.col("o_orderdate") >= "2001-06-01").select(
        "o_orderpriority",
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        fround(F.percent_rank().over(w), 6).alias("pct_rank"),
        fround(F.cume_dist().over(w), 6).alias("cume"),
        F.nth_value("o_orderkey", 3)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("third_key"),
    )


ORACLE["window_rank_suite"] = """
SELECT o_orderpriority, o_orderkey,
       ntile(4) OVER w AS quartile,
       floor(round(percent_rank() OVER w, 10) * 1000000) / 1000000 AS pct_rank,
       floor(round(cume_dist() OVER w, 10) * 1000000) / 1000000 AS cume,
       nth_value(o_orderkey, 3) OVER (
         PARTITION BY o_orderpriority
         ORDER BY o_totalprice DESC, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS third_key
FROM orders
WHERE o_orderdate >= '2001-06-01'
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey)
"""

def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) of event values per type —
    the market-data/telemetry downsampling shape. Open and close come
    from row_number over the (ts, event_id)-ordered day (deterministic
    under timestamp ties, identical semantics in the oracle's window);
    high/low/count fold into the same single (day, type) aggregation.
    One window shuffle on (day, type) that the groupBy then reuses —
    no second exchange."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    w = W.partitionBy("day", "event_type")
    asc = w.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    desc = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    flagged = ev.select(
        "day",
        "event_type",
        "value",
        F.row_number().over(asc).alias("rn_first"),
        F.row_number().over(desc).alias("rn_last"),
    )
    return (
        flagged.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(
            F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("open"),
            fround(F.max("value")).alias("high"),
            fround(F.min("value")).alias("low"),
            F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


ORACLE["ts_ohlc_resample"] = """
WITH flagged AS (
  SELECT date_trunc('day', ts) AS d, event_type, value,
         row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
                            ORDER BY ts ASC, event_id ASC) AS rn_first,
         row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
)
SELECT strftime(d, '%Y-%m-%d') AS day, event_type,
       max(CASE WHEN rn_first = 1 THEN value END) AS open,
       floor(round((max(value)), 6) * 100) / 100 AS high,
       floor(round((min(value)), 6) * 100) / 100 AS low,
       max(CASE WHEN rn_last = 1 THEN value END) AS close,
       count(*) AS n_events
FROM flagged
GROUP BY 1, 2
ORDER BY 1, 2
"""


def session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (30-min inactivity gap) —
    the declarative twin of the ``applyInPandasWithState``
    sessionizer in streaming/queries.py; identical session semantics
    value-checked against the gap-islands SQL. One (user, session)
    shuffle; the same expression binds unchanged to a stream with a
    watermark, where state eviction is automatic past the gap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


ORACLE["session_window_builtin"] = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, sess_id
ORDER BY user_id, session_start
"""


def window_range_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour per-user activity via a RANGE window frame —
    the frame is bounded by event-TIME distance, not row count, so a
    burst of events and a sparse trickle both get exactly "the last
    24 h". Ordering key is integer epoch microseconds (deterministic;
    RANGE peers — identical timestamps — enter the frame together in
    both engines). One window shuffle partitioned by user_id."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-day_us, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        fround(F.sum("value").over(w)).alias("sum_24h"),
    )


ORACLE["window_range_24h"] = """
SELECT user_id, event_id,
       count(*) OVER w AS n_24h,
       floor(round((sum(value) OVER w), 6) * 100) / 100 AS sum_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
"""


def window_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour DISTINCT event-type count per user — the
    breadth-of-activity metric (how many different things did this
    user do in the trailing day). Distinct aggregates are not
    window-native in Spark, so the frame collects the type column and
    dedups in an array expression (``array_distinct``) — fine because
    the value domain inside one frame is small (event types, not
    event ids); a high-cardinality domain would swap in an HLL sketch
    column. Same partitioned RANGE shuffle as ``window_range_24h``."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-day_us, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.array_distinct(F.collect_list("event_type").over(w)))
        .cast("bigint")
        .alias("n_types_24h"),
    )


ORACLE["window_rolling_distinct"] = """
SELECT user_id, event_id,
       count(DISTINCT event_type) OVER w AS n_types_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
"""


def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the dense hourly grid: hours with
    events carry the observed hourly average; gap hours get the
    time-weighted line between the nearest observed neighbors (edges
    stay NULL — no extrapolation). The sensor/telemetry resampling
    primitive.

    Plan shape: the events fact is scanned/aggregated ONCE; the dense
    grid comes from a tiny bounds aggregate and is broadcast. The
    neighbor search is two ignore-nulls window passes (last-before /
    first-after) over the grid — window size is |hours| × |types|,
    independent of the fact row count, so this scales with the time
    span, not the data volume."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.avg("value").alias("obs"))
    # broadcast the right side (see ts_gapfill_hourly — a left-side
    # hint on a left-outer join is discarded)
    dense = grid.join(F.broadcast(hourly), ["hour", "event_type"], "left").select(
        "hour", "event_type", "obs", F.unix_micros("hour").alias("h_us")
    )
    w = W.partitionBy("event_type").orderBy("h_us")
    known = F.when(F.col("obs").isNotNull(), F.struct("h_us", "obs"))
    prev = F.last(known, ignorenulls=True).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    nxt = F.first(known, ignorenulls=True).over(
        w.rowsBetween(1, W.unboundedFollowing)
    )
    frac = (F.col("h_us") - prev["h_us"]) / (nxt["h_us"] - prev["h_us"])
    interp = F.when(F.col("obs").isNotNull(), F.col("obs")).otherwise(
        prev["obs"] + (nxt["obs"] - prev["obs"]) * frac
    )
    return dense.select(
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        fround(interp, 4).alias("value"),
        F.col("obs").isNotNull().alias("observed"),
    )


ORACLE["ts_interpolate_linear"] = """
WITH bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
hours AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, avg(value) AS obs
  FROM events GROUP BY 1, 2
),
dense AS (
  SELECT h.hour, t.event_type, hourly.obs, epoch_us(h.hour) AS h_us
  FROM hours h CROSS JOIN types t
  LEFT JOIN hourly ON hourly.hour = h.hour AND hourly.event_type = t.event_type
),
nbr AS (
  SELECT *,
         last_value(CASE WHEN obs IS NOT NULL THEN h_us END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_us,
         last_value(CASE WHEN obs IS NOT NULL THEN obs END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_obs,
         first_value(CASE WHEN obs IS NOT NULL THEN h_us END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h_us
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_us,
         first_value(CASE WHEN obs IS NOT NULL THEN obs END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY h_us
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_obs
  FROM dense
)
SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour, event_type,
       floor(round((CASE WHEN obs IS NOT NULL THEN obs
             ELSE p_obs + (n_obs - p_obs) * (h_us - p_us) / (n_us - p_us)
        END), 8) * 10000) / 10000 AS value,
       obs IS NOT NULL AS observed
FROM nbr
"""


def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact exponentially-weighted moving average per user
    (α = 0.2, y₁ = x₁) — the recursive smoother y_t = (1−α)y_{t−1} +
    αx_t, which looks like it needs a sequential loop, expressed as
    ONE window pass via the closed form

        y_t = r^{t−1}·x₁ + α·r^t·Σ_{i=2..t} x_i·r^{−i},   r = 1−α

    i.e. a running sum of pre-scaled inputs re-scaled per row. Stays
    entirely in whole-stage codegen; no UDF, no iteration. The r^{−i}
    factor grows exponentially, so the form is numerically safe only
    while per-partition row counts keep r^{−i} finite (α = 0.2 →
    ~3000 rows/key; far beyond the per-user event depth here).
    Production beyond that depth: segment the window per ~1000 rows
    and chain segment carries, or applyInPandas per key."""
    ev = load_table(spark, sf_dir, "events")
    alpha, r = 0.2, 0.8
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    rn = F.row_number().over(w)
    base = ev.select("user_id", "event_id", "value", rn.alias("rn"))
    wsum = (
        W.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    scaled = F.when(
        F.col("rn") >= 2, F.col("value") * F.pow(F.lit(r), -F.col("rn"))
    ).otherwise(0.0)
    x1 = F.first("value").over(
        W.partitionBy("user_id").orderBy("rn").rowsBetween(W.unboundedPreceding, 0)
    )
    s2 = F.sum(scaled).over(wsum)
    ewma = x1 * F.pow(F.lit(r), F.col("rn") - 1) + F.lit(alpha) * F.pow(
        F.lit(r), F.col("rn")
    ) * s2
    return base.select(
        "user_id", "event_id", fround(ewma, 4).alias("ewma")
    )


ORACLE["ts_ewma"] = """
WITH base AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
acc AS (
  SELECT user_id, event_id, rn,
         first_value(value) OVER w AS x1,
         sum(CASE WHEN rn >= 2 THEN value * pow(0.8, -rn) ELSE 0 END) OVER w AS s2
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       floor(round((x1 * pow(0.8, rn - 1) + 0.2 * pow(0.8, rn) * s2), 8) * 10000) / 10000 AS ewma
FROM acc
"""


def window_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows: per event_type activity over 1-hour
    windows advancing every 15 minutes — Spark's ``window(ts, '1
    hour', '15 minutes')`` assigns each event to its 4 covering
    slots, the same declarative expression that binds unchanged to a
    stream. One explode (bounded ×4) + one aggregation; the oracle
    reproduces slot assignment with integer epoch arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "cnt",
        )
    )


ORACLE["window_sliding_counts"] = """
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


def ts_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour, day, and month
    resolutions of the events stream in ONE pass via GROUPING SETS —
    the scan and partial aggregation are shared across resolutions
    instead of three separate jobs. Level is derived from which time
    keys are non-null (all keys derive from non-null ts, so the NULLs
    are exactly the grouping-set markers)."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "value",
    ).createOrReplaceTempView("_mrs_ev_times")
    return spark.sql(
        """
        SELECT CASE WHEN hour IS NOT NULL THEN 'hour'
                    WHEN day  IS NOT NULL THEN 'day'
                    ELSE 'month' END AS level,
               month, day, hour, event_type,
               count(*) AS cnt,
               floor(round(sum(value), 6) * 100) / 100 AS sum_value
        FROM _mrs_ev_times
        GROUP BY event_type, GROUPING SETS ((month), (month, day),
                                            (month, day, hour))
        """
    )


ORACLE["ts_multires_rollup"] = """
WITH t AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         event_type, value
  FROM events
)
SELECT CASE WHEN hour IS NOT NULL THEN 'hour'
            WHEN day  IS NOT NULL THEN 'day'
            ELSE 'month' END AS level,
       month, day, hour, event_type,
       count(*) AS cnt,
       floor(round(sum(value), 6) * 100) / 100 AS sum_value
FROM t
GROUP BY event_type, GROUPING SETS ((month), (month, day),
                                    (month, day, hour))
"""


def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-slot median over each event type's hourly count
    series — the robust smoother (spikes don't drag it the way a
    rolling mean is dragged). Exact interpolated percentile evaluated
    over a bounded 24-row window frame: state per frame is tiny and
    fixed, and the window partitions by event type over the (small)
    hourly series, never over raw events."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-23, W.currentRow)
    )
    med = F.expr("percentile(cnt, 0.5)").over(w)
    return hourly.select(
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "cnt",
        fround(med, 4).alias("rolling_median_24h"),
    )


ORACLE["ts_rolling_median"] = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT strftime(hour, '%Y-%m-%d %H:00') AS hour, event_type, cnt,
       {fround_sql("quantile_cont(cnt, 0.5) OVER (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)", 4)}
         AS rolling_median_24h
FROM hourly
"""


def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal seasonality profile: per (event_type, hour-of-day)
    volume, mean, and dispersion, plus the hour's mean as a ratio of
    the type's overall mean — the 24-point seasonal fingerprint that
    capacity planning and anomaly baselines subtract before flagging
    residuals. One aggregation with a |types|×24 key space; the
    normalizing window runs over 24 rows per type, never row-level
    data — at 100 TB this is one scan and one tiny shuffle."""
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("_avg"),
        F.stddev_samp("value").alias("_sd"),
        F.sum("value").alias("_sum"),
    )
    w = W.partitionBy("event_type")
    overall = F.sum("_sum").over(w) / F.sum("n").over(w)
    return prof.select(
        "event_type",
        "hour_of_day",
        "n",
        fround("_avg", 4).alias("avg_value"),
        fround("_sd", 4).alias("sd_value"),
        fround(F.col("_avg") / overall, 4).alias("ratio_to_mean"),
    ).orderBy("event_type", "hour_of_day")


ORACLE["ts_seasonal_profile"] = f"""
WITH prof AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
         count(*) AS n, avg(value) AS a, stddev_samp(value) AS sd,
         sum(value) AS s
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour_of_day, n,
       {fround_sql("a", 4)} AS avg_value,
       {fround_sql("sd", 4)} AS sd_value,
       {fround_sql(
           "a / (sum(s) OVER (PARTITION BY event_type) / "
           "sum(n) OVER (PARTITION BY event_type))",
           4,
       )} AS ratio_to_mean
FROM prof
ORDER BY 1, 2
"""


def late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay sizing report: how late does data actually
    arrive? The generator's events carry no disorder (event_id is
    exactly event-time-ordered — verified, lateness ≡ 0), so arrival
    time is modeled as event-time plus a deterministic content-hash
    jitter of 0–10 min (the bounded network/broker delay a real
    ingest sees). Each event's lateness is the high-watermark (max
    event-time among earlier ARRIVALS) minus its own event-time,
    bucketed into minutes, with the cumulative share of events a
    ``withWatermark(delay)`` would capture at each delay — the
    empirical basis for every watermark choice in ``streaming/``.

    The prefix-max is DISTRIBUTED: a naive ``max(ts) OVER (ORDER BY
    arrival)`` funnels the whole stream through one range-sorted
    partition chain; instead arrivals are range-bucketed into hours
    (the ≤|hours|-row per-bucket maxima get an exclusive running max
    broadcast back) and each bucket computes its within-bucket
    running max in parallel — the same two-phase shape as
    ``corpus_shuffle_order``'s distributed rank. Exact integer
    microseconds end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    tus = F.unix_micros("ts")
    arrival = tus + hash64(F.col("event_id").cast("string")) % 600000000
    keyed = ev.select(
        "event_id",
        tus.alias("tus"),
        arrival.alias("arr"),
        F.floor(arrival / 3600000000).cast("bigint").alias("_bkt"),
    )
    bmax = keyed.groupBy("_bkt").agg(F.max("tus").alias("_bmax"))
    bmax1, w0 = single_partition(bmax, by=["_bkt"])
    w_prev = w0.rowsBetween(W.unboundedPreceding, -1)
    prev = bmax1.select("_bkt", F.max("_bmax").over(w_prev).alias("_prev"))
    w_run = W.partitionBy("_bkt").orderBy("arr", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    hwm = F.greatest(
        F.max("tus").over(w_run), F.coalesce("_prev", F.lit(0).cast("bigint"))
    )
    late_min = ((hwm - F.col("tus")) / F.lit(60000000)).cast("bigint")
    hist = (
        keyed.join(F.broadcast(prev), "_bkt")
        .select(F.least(late_min, F.lit(120)).alias("late_min"))
        .groupBy("late_min")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    hist, w0 = single_partition(hist, by=["late_min"])
    w_cum = w0.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy(F.spark_partition_id()).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return hist.select(
        "late_min",
        "n_events",
        fround(
            F.sum("n_events").over(w_cum) / F.sum("n_events").over(w_all).cast("double"),
            6,
        ).alias("captured_share"),
    ).orderBy("late_min")


ORACLE["late_data_audit"] = f"""
WITH arr AS (
  SELECT event_id, epoch_us(ts) AS tus,
         epoch_us(ts)
           + {hash64_sql('CAST(event_id AS VARCHAR)')}
             % 600000000 AS arr
  FROM events
),
run AS (
  SELECT tus,
         max(tus) OVER (ORDER BY arr, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
  FROM arr
),
hist AS (
  SELECT least((hwm - tus) // 60000000, 120) AS late_min,
         count(*) AS n_events
  FROM run GROUP BY 1
)
SELECT late_min, n_events,
       {fround_sql(
           "sum(n_events) OVER (ORDER BY late_min ROWS BETWEEN UNBOUNDED "
           "PRECEDING AND CURRENT ROW)::DOUBLE / sum(n_events) OVER ()",
           6,
       )} AS captured_share
FROM hist
ORDER BY late_min
"""


def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average for IRREGULARLY sampled series (the
    TimescaleDB ``time_weight('LOCF')`` hypertable aggregate): each
    observation is weighted by how long it remained the latest one,
    so a burst of rapid-fire samples can't dominate a plain avg and a
    sensor that reports rarely isn't under-counted. LOCF segments via
    one lead() window per type's timeline (total ordering includes
    event_id — sf0.1 holds true duplicate timestamps) + one aggregate:
    the same two-exchange shape as any per-key window pass, with one
    (weighted-sum, duration) pair of state per type. The plain avg
    over the SAME segments rides along so the report shows what the
    weighting changed."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    dur = (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).cast(
        "double"
    )
    seg = ev.select("event_type", "value", dur.alias("dur_us")).filter(
        F.col("dur_us").isNotNull()
    )
    return (
        seg.groupBy("event_type")
        .agg(
            fround(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
            ).alias("twa_value"),
            fround(F.avg("value"), 4).alias("plain_avg"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("event_type")
    )


ORACLE["ts_time_weighted_avg"] = f"""
WITH seg AS (
  SELECT event_type, value,
         CAST(epoch_us(lead(ts) OVER (PARTITION BY event_type
                ORDER BY ts, event_id)) - epoch_us(ts) AS DOUBLE) AS dur_us
  FROM events
)
SELECT event_type,
       {fround_sql("sum(value * dur_us) / sum(dur_us)", 4)} AS twa_value,
       {fround_sql("avg(value)", 4)} AS plain_avg,
       count(*) AS n_segments
FROM seg
WHERE dur_us IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


def ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-ADJUSTED volume anomalies: hourly event counts
    compared against the type's diurnal baseline (mean/σ per
    (type, hour-of-day) stratum), flagging hours whose residual
    |z| ≥ 2 — the alert rule that doesn't page at 9am just because
    mornings are busy (the raw per-type screen is ``anomaly_zscore``;
    this one subtracts the season first). One hourly aggregation
    (|hours|×|types| keys) + one stratum window over 24·|types|
    groups. Both engines filter on the SAME truncated z, so boundary
    hours can't flicker between them."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("hod", F.hour("hour").cast("bigint"))
    )
    w = W.partitionBy("event_type", "hod")
    # constant strata (σ = 0, e.g. singleton hours at tiny SFs) carry
    # no anomaly signal and would divide-by-zero under ANSI mode —
    # excluded identically on both engines via the explicit sd filter
    withm = hourly.select(
        "event_type",
        "hour",
        "hod",
        "n",
        F.avg("n").over(w).alias("_mu"),
        F.stddev_samp("n").over(w).alias("_sd"),
    ).filter(F.col("_sd") > 0)
    zr = fround((F.col("n") - F.col("_mu")) / F.col("_sd"), 4)
    return (
        withm.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            "hod",
            "n",
            fround(F.col("_mu"), 4).alias("baseline"),
            zr.alias("z"),
        )
        .filter((F.col("z") >= 2.0) | (F.col("z") <= -2.0))
        .orderBy("event_type", "hour")
    )


ORACLE["ts_anomaly_seasonal"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
),
withm AS (
  SELECT event_type, hour, n,
         avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sd
  FROM hourly
  WINDOW w AS (PARTITION BY event_type, hour(hour))
),
strat AS (
  SELECT event_type, strftime(hour, '%Y-%m-%d %H:00') AS hour,
         CAST(hour(hour) AS BIGINT) AS hod, n,
         {fround_sql("mu", 4)} AS baseline,
         {fround_sql("(n - mu) / sd", 4)} AS z
  FROM withm WHERE sd > 0
)
SELECT * FROM strat
WHERE z >= 2.0 OR z <= -2.0
ORDER BY event_type, hour
"""


CP_WIN = 24  # hours on each side of the candidate changepoint
CP_Z = 3.0  # mean-shift threshold in pooled-σ units


def ts_changepoint_meanshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift CHANGEPOINT detection on the hourly volume series:
    for every hour, compare the mean of the preceding {CP_WIN} hours
    against the following {CP_WIN} hours and flag shifts ≥ {CP_Z}
    pooled standard errors — the sliding two-sample z-test (the
    window form of CUSUM; the recursive CUSUM statistic itself is not
    SQL-expressible, the two-window test is and detects the same
    level shifts). This is the "did the pipeline's input volume
    regime change" monitor. One hourly aggregation, then TWO
    row-bounded window passes per type over the (tiny)
    |hours|×|types| series; edge hours without full windows are
    excluded identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    ws = W.partitionBy("event_type").orderBy("hour")
    before = ws.rowsBetween(-CP_WIN, -1)
    after = ws.rowsBetween(1, CP_WIN)
    stats = hourly.select(
        "event_type",
        "hour",
        "n",
        F.avg("n").over(before).alias("_mb"),
        F.count("n").over(before).alias("_cb"),
        F.avg("n").over(after).alias("_ma"),
        F.count("n").over(after).alias("_ca"),
        F.stddev_samp("n").over(
            W.partitionBy("event_type")
        ).alias("_sd"),
    ).filter(
        (F.col("_cb") == CP_WIN) & (F.col("_ca") == CP_WIN) & (F.col("_sd") > 0)
    )
    # two-sample z: shift / (σ · sqrt(2/W)); F.sqrt (not Python **0.5)
    # so both engines take the correctly-rounded sqrt of the same
    # double — pow(x, 0.5) can differ from sqrt(x) in the last ulp
    z = fround(
        (F.col("_ma") - F.col("_mb"))
        / (F.col("_sd") * F.sqrt(F.lit(2.0 / CP_WIN))),
        4,
    )
    return (
        stats.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            "n",
            fround(F.col("_mb"), 4).alias("mean_before"),
            fround(F.col("_ma"), 4).alias("mean_after"),
            z.alias("shift_z"),
        )
        .filter((F.col("shift_z") >= CP_Z) | (F.col("shift_z") <= -CP_Z))
        .orderBy("event_type", "hour")
    )


ORACLE["ts_changepoint_meanshift"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, hour, n,
         avg(n) OVER wb AS mb, count(n) OVER wb AS cb,
         avg(n) OVER wa AS ma, count(n) OVER wa AS ca,
         stddev_samp(n) OVER (PARTITION BY event_type) AS sd
  FROM hourly
  WINDOW wb AS (PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN {CP_WIN} PRECEDING AND 1 PRECEDING),
         wa AS (PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN 1 FOLLOWING AND {CP_WIN} FOLLOWING)
),
scored AS (
  SELECT event_type, strftime(hour, '%Y-%m-%d %H:00') AS hour, n,
         {fround_sql("mb", 4)} AS mean_before,
         {fround_sql("ma", 4)} AS mean_after,
         {fround_sql(f"(ma - mb) / (sd * sqrt(2.0 / {CP_WIN}))", 4)} AS shift_z
  FROM stats
  WHERE cb = {CP_WIN} AND ca = {CP_WIN} AND sd > 0
)
SELECT * FROM scored
WHERE shift_z >= {CP_Z} OR shift_z <= -{CP_Z}
ORDER BY event_type, hour
"""


STL_HALF = 24  # trend window half-width (hours)


def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition (simplified STL) of the
    hourly volume series: trend = centered ±{STL_HALF} h rolling mean,
    seasonal = per-(type, hour-of-day) mean of the detrended series,
    residual = the rest. The decomposition every capacity forecast /
    anomaly explainer starts from (``ts_anomaly_seasonal`` uses the
    seasonal stratum directly; this emits all three components so
    downstream can reason about each). Two window passes + one
    stratum join over the tiny |hours|×|types| series; the corpus
    pays one hourly aggregation."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-STL_HALF, STL_HALF)
    )
    detr = hourly.select(
        "event_type",
        "hour",
        "n",
        F.avg("n").over(wt).alias("_trend"),
    ).withColumn("_detr", F.col("n") - F.col("_trend"))
    ws = W.partitionBy("event_type", F.hour("hour"))
    out = detr.select(
        "event_type",
        "hour",
        "n",
        "_trend",
        "_detr",
        F.avg("_detr").over(ws).alias("_seasonal"),
    )
    return out.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
        "n",
        fround(F.col("_trend"), 4).alias("trend"),
        fround(F.col("_seasonal"), 4).alias("seasonal"),
        fround(F.col("_detr") - F.col("_seasonal"), 4).alias("residual"),
    ).orderBy("event_type", "hour")


ORACLE["ts_stl_decompose"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
),
detr AS (
  SELECT event_type, hour, n,
         avg(n) OVER (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN {STL_HALF} PRECEDING
                      AND {STL_HALF} FOLLOWING) AS trend
  FROM hourly
),
seas AS (
  SELECT event_type, hour, n, trend, n - trend AS d,
         avg(n - trend) OVER (PARTITION BY event_type, hour(hour)) AS seasonal
  FROM detr
)
SELECT event_type, strftime(hour, '%Y-%m-%d %H:00') AS hour, n,
       {fround_sql("trend", 4)} AS trend,
       {fround_sql("seasonal", 4)} AS seasonal,
       {fround_sql("d - seasonal", 4)} AS residual
FROM seas ORDER BY event_type, hour
"""


SNAIVE_LAG = 24  # seasonal-naive horizon (hours)


def ts_forecast_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each hour's volume
    with the value 24 hours earlier and score MAE/RMSE per event type
    — the baseline every real forecasting model must beat, and the
    standing backtest a pipeline runs to detect when its seasonality
    assumption broke (compare against ``ts_changepoint_meanshift``).
    One hourly aggregation + one lag window + one per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("event_type").orderBy("hour")
    scored = hourly.withColumn(
        "pred", F.lag("n", SNAIVE_LAG).over(w)
    ).filter(F.col("pred").isNotNull())
    err = F.col("n") - F.col("pred")
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours_scored"),
            fround(F.avg(F.abs(err)), 4).alias("mae"),
            fround(F.sqrt(F.avg(err * err)), 4).alias("rmse"),
        )
        .orderBy("event_type")
    )


ORACLE["ts_forecast_snaive_backtest"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, n,
         lag(n, {SNAIVE_LAG}) OVER (PARTITION BY event_type
                                    ORDER BY hour) AS pred
  FROM hourly
)
SELECT event_type, count(*) AS n_hours_scored,
       {fround_sql("avg(abs(n - pred))", 4)} AS mae,
       {fround_sql("sqrt(avg((n - pred) * (n - pred)))", 4)} AS rmse
FROM scored WHERE pred IS NOT NULL
GROUP BY event_type ORDER BY event_type
"""


_ACF_MAX_LAG = 24


def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly event-count series at
    lags 1..{maxlag}: Pearson corr between the series and its
    lag-shifted self, computed as one equi-join of the (tiny) hourly
    aggregate against itself cross the lag spine — the series is
    |hours| rows, so exploding ×{maxlag} lags costs nothing while the
    single fact scan stays lag-free. The ACF spike at lag 24 is the
    standard daily-seasonality detector feeding period choice for the
    snaive/STL slugs. corr() is the engines' built-in two-pass-exact
    Pearson aggregate; fround guards the float."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = series.crossJoin(F.broadcast(lags)).select(
        (F.unix_timestamp("h") + F.col("lag") * 3600).alias("h_next"),
        "lag",
        F.col("n").alias("n_past"),
    )
    pairs = series.select(
        F.unix_timestamp("h").alias("h_next"), F.col("n").alias("n_now")
    ).join(shifted, "h_next")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            fround(F.corr("n_now", "n_past"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


ts_autocorrelation.__doc__ = ts_autocorrelation.__doc__.format(maxlag=_ACF_MAX_LAG)


ORACLE["ts_autocorrelation"] = f"""
WITH series AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS lag),
shifted AS (
  SELECT epoch(h) + lag * 3600 AS h_next, lag, n AS n_past
  FROM series CROSS JOIN lags
),
pairs AS (
  SELECT s.lag, cur.n AS n_now, s.n_past
  FROM (SELECT epoch(h) AS h_next, n FROM series) cur
  JOIN shifted s USING (h_next)
)
SELECT CAST(lag AS INT) AS lag, count(*) AS n_pairs,
       {fround_sql("corr(n_now, n_past)", 6)} AS acf
FROM pairs
GROUP BY lag
ORDER BY lag
"""


PACF_MAX_LAG = 4  # Durbin-Levinson unroll depth (expression size grows fast)


def _durbin_levinson_formulas(max_lag: int) -> dict[int, str]:
    """Engine-neutral arithmetic strings for the partial
    autocorrelations phi_kk in terms of columns r1..r{max_lag}
    (the ACF), via the Durbin-Levinson recursion:

        phi_kk = (r_k - sum_j phi_{k-1,j} r_{k-j})
                 / (1 - sum_j phi_{k-1,j} r_j)
        phi_kj = phi_{k-1,j} - phi_kk * phi_{k-1,k-j}

    Emitted SYMBOLICALLY so the Spark side (F.expr) and the DuckDB
    oracle evaluate character-identical expressions — the policy-
    constant discipline applied to a whole formula. Expression size
    is exponential in max_lag; 4 is the classic AR-order
    identification depth and keeps the text ~2 KB."""
    phi: dict[tuple[int, int], str] = {}
    out: dict[int, str] = {}
    for k in range(1, max_lag + 1):
        if k == 1:
            e = "r1"
        else:
            num = f"r{k} - (" + " + ".join(
                f"({phi[(k - 1, j)]}) * r{k - j}" for j in range(1, k)
            ) + ")"
            den = "1 - (" + " + ".join(
                f"({phi[(k - 1, j)]}) * r{j}" for j in range(1, k)
            ) + ")"
            e = f"({num}) / ({den})"
        out[k] = e
        phi[(k, k)] = e
        for j in range(1, k):
            phi[(k, j)] = f"({phi[(k - 1, j)]}) - ({e}) * ({phi[(k - 1, k - j)]})"
    return out


def ts_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the hourly event-count series at
    lags 1..{maxlag} — THE AR-order identification tool (PACF cuts
    off at lag p for an AR(p) process; the ACF only tails). Estimator:
    standard stationary ACF rho_k = gamma_k / gamma_0 with the GLOBAL
    mean (sum of lagged deviation products over the common grid),
    then the Durbin-Levinson recursion unrolled symbolically — both
    engines evaluate character-identical formula text generated from
    the same Python function, so a depth retune cannot diverge them.
    Scale shape: the fact table collapses to the |hours|-row series
    in one aggregation; everything after (lag joins, the 1-row pivot,
    the closed-form recursion) is model-sized. rho is fround-snapped
    BEFORE the recursion so both engines feed identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    mu = series.agg(F.avg("n").alias("mu"))
    dx = series.crossJoin(F.broadcast(mu)).select(
        F.unix_timestamp("h").alias("hs"), (F.col("n") - F.col("mu")).alias("d")
    )
    g0 = dx.agg(F.sum(F.col("d") * F.col("d")).alias("g0"))
    lags = spark.range(1, PACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = dx.crossJoin(F.broadcast(lags)).select(
        (F.col("hs") + F.col("lag") * 3600).alias("hs"),
        "lag",
        F.col("d").alias("d_past"),
    )
    gk = (
        dx.join(shifted, "hs")
        .groupBy("lag")
        .agg(F.sum(F.col("d") * F.col("d_past")).alias("gk"))
    )
    rho = gk.crossJoin(F.broadcast(g0)).select(
        "lag", fround(F.col("gk") / F.col("g0"), 6).alias("rho")
    )
    wide = rho.groupBy().agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("rho"))).alias(f"r{k}")
            for k in range(1, PACF_MAX_LAG + 1)
        ]
    )
    formulas = _durbin_levinson_formulas(PACF_MAX_LAG)
    stack_args = ", ".join(
        f"{k}, pacf_{k}" for k in range(1, PACF_MAX_LAG + 1)
    )
    return (
        wide.select(
            *[F.col(f"r{k}") for k in range(1, PACF_MAX_LAG + 1)],
            *[
                fround(F.expr(formulas[k]), 4).alias(f"pacf_{k}")
                for k in range(1, PACF_MAX_LAG + 1)
            ],
        )
        .select(
            F.expr(f"stack({PACF_MAX_LAG}, {stack_args}) AS (lag, pacf)")
        )
        .select(F.col("lag").cast("int").alias("lag"), "pacf")
        .orderBy("lag")
    )


ts_pacf.__doc__ = ts_pacf.__doc__.format(maxlag=PACF_MAX_LAG)


def _pacf_oracle() -> str:
    formulas = _durbin_levinson_formulas(PACF_MAX_LAG)
    picks = ",\n       ".join(
        f"{fround_sql(f'gk{k}.gk / g0.g0', 6)} AS r{k}"
        for k in range(1, PACF_MAX_LAG + 1)
    )
    gks = ",\n".join(
        f"gk{k} AS (SELECT sum(cur.d * past.d) AS gk FROM dx cur "
        f"JOIN dx past ON past.hs = cur.hs - {k} * 3600)"
        for k in range(1, PACF_MAX_LAG + 1)
    )
    joins = " CROSS JOIN ".join(
        ["g0"] + [f"gk{k}" for k in range(1, PACF_MAX_LAG + 1)]
    )
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT {k} AS lag, {fround_sql(formulas[k], 4)} AS pacf FROM r"
        for k in range(1, PACF_MAX_LAG + 1)
    )
    return f"""
WITH series AS (
  SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1
),
mu AS (SELECT avg(n) AS mu FROM series),
dx AS (SELECT epoch(h) AS hs, n - (SELECT mu FROM mu) AS d FROM series),
g0 AS (SELECT sum(d * d) AS g0 FROM dx),
{gks},
r AS (
  SELECT {picks}
  FROM {joins}
)
SELECT CAST(lag AS INT) AS lag, pacf FROM (
  {unions}
) ORDER BY lag
"""


ORACLE["ts_pacf"] = _pacf_oracle()


# shared engine-neutral formula strings for the Granger F readout —
# centered-sum OLS, generated once so both engines evaluate identical
# arithmetic (the ts_pacf discipline)
_GR_D = "(suu * svv - suv * suv)"
_GR_B = f"((suy * svv - svy * suv) / {_GR_D})"
_GR_C = f"((svy * suu - suy * suv) / {_GR_D})"
_GR_RSS2 = f"(syy - {_GR_B} * suy - {_GR_C} * svy)"
_GR_RSS1 = "(syy - suy * suy / suu)"
_GR_F = (
    f"(({_GR_RSS1} - {_GR_RSS2}) / (({_GR_RSS2}) / (n - 3)))"
)
GRANGER_F_CRIT = 4.0  # ~F(1, 25+) at alpha=0.05 on the daily grid


def ts_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Granger-causality screen over the daily per-type
    value series: does YESTERDAY's x improve predicting today's y
    beyond yesterday's y? For every ordered type pair, compare
    restricted OLS y_t ~ y_{t-1} against augmented y_t ~ y_{t-1} +
    x_{t-1}; F = (RSS1 - RSS2)/(RSS2/(n-3)) with 1 extra parameter.
    Everything is closed-form centered-sum algebra over ONE lag-join
    of the (types x days)-sized frame — the 2x2 normal equations are
    solved symbolically, and the identical generated formula text
    runs in both engines (the ``ts_pacf`` discipline), so there is no
    iterative fitting anywhere. The "lite" is honest: one lag, no
    differencing/stationarity pretest — the screening pass that picks
    which pairs earn a real VAR. Scale shape: the fact table
    collapses to |types| x |days| once; the pair frame is |types|²
    x |days| of DOUBLES, bounded by the calendar."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("v"))
    y_now = daily.select(
        F.col("t").alias("effect"), "day", F.col("v").alias("y")
    )
    y_lag = daily.select(
        F.col("t").alias("effect"),
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("v").alias("u"),
    )
    x_lag = daily.select(
        F.col("t").alias("cause"),
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("v").alias("x"),
    )
    j = (
        y_now.join(y_lag, ["effect", "day"])
        .join(x_lag, "day")
        .filter(F.col("cause") != F.col("effect"))
    )
    g = j.groupBy("cause", "effect").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("my"),
        F.avg("u").alias("mu"),
        F.avg("x").alias("mx"),
        F.sum(F.col("y") * F.col("y")).alias("syy_r"),
        F.sum(F.col("u") * F.col("u")).alias("suu_r"),
        F.sum(F.col("x") * F.col("x")).alias("svv_r"),
        F.sum(F.col("u") * F.col("y")).alias("suy_r"),
        F.sum(F.col("x") * F.col("y")).alias("svy_r"),
        F.sum(F.col("u") * F.col("x")).alias("suv_r"),
    )
    cent = g.select(
        "cause",
        "effect",
        "n",
        (F.col("syy_r") - F.col("n") * F.col("my") * F.col("my")).alias("syy"),
        (F.col("suu_r") - F.col("n") * F.col("mu") * F.col("mu")).alias("suu"),
        (F.col("svv_r") - F.col("n") * F.col("mx") * F.col("mx")).alias("svv"),
        (F.col("suy_r") - F.col("n") * F.col("mu") * F.col("my")).alias("suy"),
        (F.col("svy_r") - F.col("n") * F.col("mx") * F.col("my")).alias("svy"),
        (F.col("suv_r") - F.col("n") * F.col("mu") * F.col("mx")).alias("suv"),
    )
    f_expr = F.when(
        (F.col("n") > 3)
        & (F.expr(_GR_D) > 1e-12)
        & (F.col("suu") > 1e-12)
        & (F.expr(_GR_RSS2) > 1e-12),
        F.expr(_GR_F),
    )
    return cent.select(
        "cause",
        "effect",
        F.col("n").cast("bigint").alias("n"),
        fround(f_expr, 4).alias("f_stat"),
        (f_expr > GRANGER_F_CRIT).alias("granger_causes"),
    ).orderBy("cause", "effect")


ORACLE["ts_granger_lite"] = f"""
WITH daily AS (
  SELECT event_type AS t, date_trunc('day', ts) AS day, avg(value) AS v
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT x.t AS cause, y.t AS effect, y.v AS y, yl.v AS u, x.v AS x
  FROM daily y
  JOIN daily yl ON yl.t = y.t AND yl.day = y.day - INTERVAL 1 DAY
  JOIN daily x ON x.day = y.day - INTERVAL 1 DAY AND x.t <> y.t
),
g AS (
  SELECT cause, effect, count(*) AS n,
         avg(y) AS my, avg(u) AS mu, avg(x) AS mx,
         sum(y * y) AS syy_r, sum(u * u) AS suu_r, sum(x * x) AS svv_r,
         sum(u * y) AS suy_r, sum(x * y) AS svy_r, sum(u * x) AS suv_r
  FROM j GROUP BY 1, 2
),
cent AS (
  SELECT cause, effect, n,
         syy_r - n * my * my AS syy,
         suu_r - n * mu * mu AS suu,
         svv_r - n * mx * mx AS svv,
         suy_r - n * mu * my AS suy,
         svy_r - n * mx * my AS svy,
         suv_r - n * mu * mx AS suv
  FROM g
),
m AS (
  SELECT cause, effect, n,
         CASE WHEN n > 3 AND {_GR_D} > 1e-12 AND suu > 1e-12
                   AND {_GR_RSS2} > 1e-12
              THEN {_GR_F} END AS f
  FROM cent
)
SELECT cause, effect, CAST(n AS BIGINT) AS n,
       {fround_sql("f", 4)} AS f_stat,
       f > {GRANGER_F_CRIT} AS granger_causes
FROM m ORDER BY cause, effect
"""


_XCF_MAX_LAG = 6


def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between every ORDERED pair of event types'
    hourly series at lags 0..{maxlag}: corr(a at t, b at t-lag) — the
    does-X-lead-Y diagnostic (errors spiking after clicks, purchases
    trailing views) behind alert routing and causal-feature pruning.
    Same architecture as ``ts_autocorrelation``: the fact collapses to
    a |hours|×|types| aggregate first, so the pair×lag explosion runs
    on the tiny series, and the single fact scan stays lag-free.
    Key space |types|²·lags ≈ 175 rows of output."""
    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    lags = spark.range(0, _XCF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    past = series.crossJoin(F.broadcast(lags)).select(
        F.col("t").alias("type_b"),
        (F.unix_timestamp("h") + F.col("lag") * 3600).alias("h_next"),
        "lag",
        F.col("n").alias("n_past"),
    )
    now = series.select(
        F.col("t").alias("type_a"),
        F.unix_timestamp("h").alias("h_next"),
        F.col("n").alias("n_now"),
    )
    return (
        now.join(past, "h_next")
        .groupBy("type_a", "type_b", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            fround(F.corr("n_now", "n_past"), 6).alias("xcf"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


ts_cross_correlation.__doc__ = ts_cross_correlation.__doc__.format(
    maxlag=_XCF_MAX_LAG
)


ORACLE["ts_cross_correlation"] = f"""
WITH series AS (
  SELECT event_type AS t, date_trunc('hour', ts) AS h,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
),
lags AS (SELECT unnest(generate_series(0, {_XCF_MAX_LAG})) AS lag),
past AS (
  SELECT t AS type_b, epoch(h) + lag * 3600 AS h_next, lag, n AS n_past
  FROM series CROSS JOIN lags
),
now_ AS (SELECT t AS type_a, epoch(h) AS h_next, n AS n_now FROM series)
SELECT type_a, type_b, CAST(lag AS INT) AS lag, count(*) AS n_pairs,
       {fround_sql("corr(n_now, n_past)", 6)} AS xcf
FROM now_ JOIN past USING (h_next)
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


_OUTAGE_MIN_S = 1800  # report silences longer than 30 minutes


def ts_gap_outages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage/silence report: per event type, every gap between
    consecutive events longer than {m} minutes — the
    "did-the-pipeline-stop" monitor that pages before a consumer
    notices missing data. One lag window partitioned by type (telemetry
    streams partition naturally; a single global type would shard by
    time range first), integer-microsecond arithmetic end-to-end.
    Emits (type, silence_start, silence_end, gap_minutes) ordered for
    report stability."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros("ts") - F.unix_micros(prev)
    return (
        ev.select(
            "event_type",
            F.date_format(prev, "yyyy-MM-dd HH:mm:ss").alias("silence_start"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("silence_end"),
            (gap_us / 60_000_000).cast("bigint").alias("gap_minutes"),
            gap_us.alias("_gap_us"),
        )
        .filter(F.col("_gap_us") > _OUTAGE_MIN_S * 1_000_000)
        .drop("_gap_us")
        .orderBy("event_type", "silence_start", "silence_end")
    )


ts_gap_outages.__doc__ = ts_gap_outages.__doc__.format(m=_OUTAGE_MIN_S // 60)


ORACLE["ts_gap_outages"] = f"""
SELECT event_type,
       strftime(prev_ts, '%Y-%m-%d %H:%M:%S') AS silence_start,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS silence_end,
       CAST((epoch_us(ts) - epoch_us(prev_ts)) // 60000000 AS BIGINT)
         AS gap_minutes
FROM (
  SELECT event_type, ts,
         lag(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS prev_ts
  FROM events
)
WHERE epoch_us(ts) - epoch_us(prev_ts) > {_OUTAGE_MIN_S * 1_000_000}
ORDER BY event_type, silence_start, silence_end
"""


_CONC_HOLD_S = 1800  # each event holds a session open for 30 minutes


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the interval-stabbing/capacity
    question ("how many sessions were open at once?"): each event
    opens a {m}-minute hold; +1/−1 boundary deltas are summed by a
    running window WITHIN each day (carry-in from the previous day is
    added as a per-day base from one tiny per-day aggregate — the
    same banded prefix-sum shape as ``abc_analysis``, so no
    full-history single-partition window). Boundary ordering is total
    (time, delta, event_id): closes sort before opens at the same
    instant in both engines."""
    ev = load_table(spark, sf_dir, "events")
    opens = ev.select(
        F.unix_micros("ts").alias("t"),
        F.lit(1).alias("delta"),
        F.col("event_id").alias("eid"),
    )
    closes = ev.select(
        (F.unix_micros("ts") + _CONC_HOLD_S * 1_000_000).alias("t"),
        F.lit(-1).alias("delta"),
        F.col("event_id").alias("eid"),
    )
    bounds = opens.union(closes).withColumn(
        "day", F.to_date((F.col("t") / 1_000_000).cast("timestamp"))
    )
    per_day = bounds.groupBy("day").agg(F.sum("delta").alias("day_net"))
    per_day, w0 = single_partition(per_day, by=["day"])
    w_prev = w0.rowsBetween(W.unboundedPreceding, -1)
    base = per_day.select(
        "day", F.coalesce(F.sum("day_net").over(w_prev), F.lit(0)).alias("carry")
    )
    w_run = (
        W.partitionBy("day")
        .orderBy("t", "delta", "eid")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    stamped = bounds.join(F.broadcast(base), "day").select(
        "day", (F.col("carry") + F.sum("delta").over(w_run)).alias("conc")
    )
    return (
        stamped.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
        .orderBy("day")
    )


events_peak_concurrency.__doc__ = events_peak_concurrency.__doc__.format(
    m=_CONC_HOLD_S // 60
)


ORACLE["events_peak_concurrency"] = f"""
WITH bounds AS (
  SELECT epoch_us(ts) AS t, 1 AS delta, event_id AS eid FROM events
  UNION ALL
  SELECT epoch_us(ts) + {_CONC_HOLD_S * 1_000_000}, -1, event_id FROM events
),
stamped AS (
  SELECT CAST(to_timestamp(t / 1000000.0) AS DATE) AS day,
         sum(delta) OVER (ORDER BY t, delta, eid
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS conc
  FROM bounds
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(max(conc) AS BIGINT) AS peak_concurrency
FROM stamped
GROUP BY day
ORDER BY day
"""


def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: slope = MEDIAN of all
    pairwise slopes (y_j − y_i)/(day_j − day_i) over the DAILY mean
    series, intercept = median(y − slope·day). Breakdown point ~29 %
    — a handful of outage days cannot drag the trend the way they
    wreck an OLS fit, which is why monitoring pipelines prefer it.
    Scale shape: the O(n²) pair enumeration runs on the DAILY
    AGGREGATE (≤ a few hundred rows per type, bounded by the calendar
    — never by event count), so the fact table is scanned and
    shuffled exactly once into (type, day); the self-join and both
    medians are arithmetic on a calendar-sized frame. Exact
    ``median`` (not approx) on both engines keeps the oracle
    bit-comparable."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("y"))
    d = daily.select(
        "event_type",
        (F.unix_timestamp("day") / 86400).cast("bigint").alias("x"),
        "y",
    )
    a = d.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = d.select("event_type", F.col("x").alias("x2"), F.col("y").alias("y2"))
    # the self-join runs on the CALENDAR-sized daily frame — broadcast
    # one side explicitly (post-agg size stats are unknown to the
    # planner, which would otherwise fall back to a sort-merge join)
    slopes = (
        a.join(F.broadcast(b), "event_type")
        .filter(F.col("x2") > F.col("x1"))
        .select(
            "event_type",
            ((F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1"))).alias(
                "s"
            ),
        )
    )
    slope = slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"), F.median("s").alias("slope")
    )
    resid = (
        d.join(F.broadcast(slope), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.median(F.col("y") - F.col("slope") * F.col("x")).alias(
                "intercept"
            ),
        )
    )
    return (
        slope.join(F.broadcast(resid), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            fround("slope", 6).alias("ts_slope"),
            fround("intercept", 4).alias("ts_intercept"),
        )
        .orderBy("event_type")
    )


ORACLE["ts_theil_sen_trend"] = f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch(date_trunc('day', ts)) / 86400 AS BIGINT) AS x,
         avg(value) AS y
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.x > a.x
),
sl AS (
  SELECT event_type, count(*) AS n_pairs, median(s) AS slope
  FROM slopes GROUP BY 1
),
res AS (
  SELECT d.event_type, count(*) AS n_days,
         median(d.y - sl.slope * d.x) AS intercept
  FROM daily d JOIN sl ON sl.event_type = d.event_type
  GROUP BY 1
)
SELECT sl.event_type, res.n_days, sl.n_pairs,
       {fround_sql("sl.slope", 6)} AS ts_slope,
       {fround_sql("res.intercept", 4)} AS ts_intercept
FROM sl JOIN res ON res.event_type = sl.event_type
ORDER BY sl.event_type
"""


HOLT_ALPHA = 0.3
HOLT_BETA = 0.1
HOLT_HORIZON = 7


def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per event type —
    the workhorse short-range forecaster: level l_t = αy_t +
    (1−α)(l_{t−1}+b_{t−1}), trend b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1},
    init l₁=y₁, b₁=y₂−y₁. Unlike EWMA there is NO closed form that a
    window can express (level and trend are mutually recursive), so
    this is the textbook case for Arrow-batched ``applyInPandas``:
    the DAILY aggregate shrinks each key's series to calendar size
    first (the one data-sized shuffle), then each bounded series runs
    the recursion in one pandas batch per key — per-key sequential
    state, never a driver loop, parallel across keys exactly like a
    production hypertable. Output: final level/trend, an
    h={HOLT_HORIZON}-day forecast, and in-sample one-step MAE. The
    DuckDB oracle replays the identical recursion as a RECURSIVE CTE
    — same doubles, same order of operations."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("y"))
    )

    schema = (
        "event_type string, n_days bigint, level double, trend double,"
        " forecast double, mae double"
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["y"].to_list()
        cols = ["event_type", "n_days", "level", "trend", "forecast", "mae"]
        if len(y) < 2:
            # a 1-day series has no defined trend — dropped on both
            # engines (the oracle's seed join requires t=2 to exist)
            return pd.DataFrame([], columns=cols)
        lvl, tr = y[0], y[1] - y[0]
        abs_err = 0.0
        for t in range(1, len(y)):
            pred = lvl + tr
            abs_err += abs(y[t] - pred)
            new_lvl = HOLT_ALPHA * y[t] + (1.0 - HOLT_ALPHA) * (lvl + tr)
            tr = HOLT_BETA * (new_lvl - lvl) + (1.0 - HOLT_BETA) * tr
            lvl = new_lvl
        return pd.DataFrame(
            [[
                pdf["event_type"].iloc[0],
                len(y),
                lvl,
                tr,
                lvl + HOLT_HORIZON * tr,
                abs_err / (len(y) - 1),
            ]],
            columns=cols,
        )

    out = daily.groupBy("event_type").applyInPandas(holt, schema)
    return out.select(
        "event_type",
        "n_days",
        fround("level", 4).alias("level"),
        fround("trend", 4).alias("trend"),
        fround("forecast", 4).alias("forecast"),
        fround("mae", 4).alias("mae"),
    ).orderBy("event_type")


ORACLE["ts_holt_linear"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
hw AS (
  SELECT s1.event_type, 1 AS t, s1.n,
         s1.y AS l, s2.y - s1.y AS b, CAST(0.0 AS DOUBLE) AS abs_err
  FROM seq s1 JOIN seq s2
    ON s2.event_type = s1.event_type AND s2.t = 2
  WHERE s1.t = 1
  UNION ALL
  SELECT hw.event_type, hw.t + 1, hw.n,
         {HOLT_ALPHA} * s.y + (1.0 - {HOLT_ALPHA}) * (hw.l + hw.b),
         {HOLT_BETA} * (({HOLT_ALPHA} * s.y
                         + (1.0 - {HOLT_ALPHA}) * (hw.l + hw.b)) - hw.l)
           + (1.0 - {HOLT_BETA}) * hw.b,
         hw.abs_err + abs(s.y - (hw.l + hw.b))
  FROM hw JOIN seq s
    ON s.event_type = hw.event_type AND s.t = hw.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       {fround_sql("l", 4)} AS level,
       {fround_sql("b", 4)} AS trend,
       {fround_sql("l + " + str(HOLT_HORIZON) + " * b", 4)} AS forecast,
       {fround_sql("abs_err / (n - 1)", 4)} AS mae
FROM hw WHERE t = n
ORDER BY event_type
"""


THETA_ALPHA = 0.3  # SES smoothing on the theta=2 line
THETA_HORIZON = 7  # forecast lead (days)


def forecast_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 —
    the M3-competition winner) per event type: decompose the daily
    series into the theta=0 line (OLS trend a + b*t) and the theta=2
    line z_t = 2*y_t - (a + b*t) (double-curvature residual), smooth
    z with SES, and forecast h-ahead as the half-half combination
    0.5*ses + 0.5*(a + b*(n+h)). Equivalent to SES with drift, but
    the decomposition spelling is the one practitioners tune. OLS
    coefficients come from the closed-form normal equations (plain
    sum aggregates — map-side combinable); the SES recursion has no
    window closed form, so per-key ``applyInPandas`` over the
    calendar-bounded daily series, exactly the ``ts_holt_linear``
    architecture. DuckDB replays the identical recursion as a
    RECURSIVE CTE seeded from the same OLS aggregates."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("y"))
    )

    schema = (
        "event_type string, n_days bigint, slope double, ses_level double,"
        " forecast double"
    )

    def theta(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["y"].to_list()
        cols = ["event_type", "n_days", "slope", "ses_level", "forecast"]
        n = len(y)
        if n < 2:
            return pd.DataFrame([], columns=cols)
        st = float(sum(range(1, n + 1)))
        sy = float(sum(y))
        sty = float(sum(t * v for t, v in enumerate(y, start=1)))
        stt = float(sum(t * t for t in range(1, n + 1)))
        b = (n * sty - st * sy) / (n * stt - st * st)
        a = (sy - b * st) / n
        s = 2.0 * y[0] - (a + b * 1.0)
        for t in range(2, n + 1):
            z = 2.0 * y[t - 1] - (a + b * t)
            s = THETA_ALPHA * z + (1.0 - THETA_ALPHA) * s
        fc = 0.5 * s + 0.5 * (a + b * (n + THETA_HORIZON))
        return pd.DataFrame(
            [[pdf["event_type"].iloc[0], n, b, s, fc]], columns=cols
        )

    out = daily.groupBy("event_type").applyInPandas(theta, schema)
    return out.select(
        "event_type",
        "n_days",
        fround("slope", 4).alias("slope"),
        fround("ses_level", 4).alias("ses_level"),
        fround("forecast", 4).alias("forecast"),
    ).orderBy("event_type")


ORACLE["forecast_theta"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
ols AS (
  SELECT event_type, max(n) AS n,
         (max(n) * sum(t * y) - sum(t) * sum(y))
           / (max(n) * sum(t * t) - sum(t) * sum(t)) AS b
  FROM seq GROUP BY event_type
),
ols2 AS (
  SELECT o.event_type, o.n, o.b,
         (s.sy - o.b * s.st) / o.n AS a
  FROM ols o JOIN (
    SELECT event_type, sum(y) AS sy, sum(t) AS st FROM seq GROUP BY 1
  ) s USING (event_type)
),
ses AS (
  SELECT s.event_type, 1 AS t, o.n, o.a, o.b,
         2.0 * s.y - (o.a + o.b * 1.0) AS s
  FROM seq s JOIN ols2 o USING (event_type)
  WHERE s.t = 1 AND o.n >= 2
  UNION ALL
  SELECT ses.event_type, ses.t + 1, ses.n, ses.a, ses.b,
         {THETA_ALPHA} * (2.0 * q.y - (ses.a + ses.b * (ses.t + 1)))
           + (1.0 - {THETA_ALPHA}) * ses.s
  FROM ses JOIN seq q
    ON q.event_type = ses.event_type AND q.t = ses.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       {fround_sql("b", 4)} AS slope,
       {fround_sql("s", 4)} AS ses_level,
       {fround_sql(f"0.5 * s + 0.5 * (a + b * (n + {THETA_HORIZON}))", 4)} AS forecast
FROM ses WHERE t = n
ORDER BY event_type
"""


HW_ALPHA = 0.3  # level smoothing
HW_BETA = 0.1  # trend smoothing
HW_GAMMA = 0.2  # seasonal smoothing
HW_PERIOD = 7  # weekly seasonality on the daily grid


def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple-exponential) smoothing per event
    type — Holt's linear recursion (``ts_holt_linear``) extended with
    a period-{HW_PERIOD} seasonal state: l_t = α(y_t − s_{{t−m}}) +
    (1−α)(l_{{t−1}}+b_{{t−1}}), b_t = β(l_t−l_{{t−1}}) + (1−β)b_{{t−1}},
    s_t = γ(y_t−l_t) + (1−γ)s_{{t−m}}; classic init l_m = mean(y_1..m),
    b_m = (mean(y_{{m+1..2m}})−mean(y_1..m))/m, s_i = y_i−mean(y_1..m).
    Level, trend AND the m-slot seasonal ring are mutually recursive —
    no window closed form — so like Holt this is the
    ``applyInPandas`` case: the daily aggregate shrinks each key to
    calendar size (the one data-sized shuffle), then each bounded
    series runs the recursion in one pandas batch per key. The DuckDB
    oracle replays the identical recursion as a RECURSIVE CTE whose
    state row carries the seasonal ring as a LIST column (shift-append
    per step) — same doubles, same order of operations. Series
    shorter than 2m are dropped on both engines (init undefined).
    Output: final level/trend/newest seasonal, the one-step h=1
    forecast (l + b + s_{{n+1−m}}), and in-sample one-step MAE over
    t = m+1..n."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("y"))
    )

    schema = (
        "event_type string, n_days bigint, level double, trend double,"
        " s_last double, forecast double, mae double"
    )
    m = HW_PERIOD

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["y"].to_list()
        cols = [
            "event_type", "n_days", "level", "trend", "s_last",
            "forecast", "mae",
        ]
        if len(y) < 2 * m:
            return pd.DataFrame([], columns=cols)
        a1 = sum(y[:m]) / m
        lvl = a1
        tr = (sum(y[m : 2 * m]) / m - a1) / m
        ss = [v - a1 for v in y[:m]]  # seasonal ring, oldest first
        abs_err = 0.0
        for t in range(m, len(y)):
            s_lag = ss[0]
            abs_err += abs(y[t] - (lvl + tr + s_lag))
            new_lvl = HW_ALPHA * (y[t] - s_lag) + (1.0 - HW_ALPHA) * (lvl + tr)
            tr = HW_BETA * (new_lvl - lvl) + (1.0 - HW_BETA) * tr
            new_s = HW_GAMMA * (y[t] - new_lvl) + (1.0 - HW_GAMMA) * s_lag
            ss = ss[1:] + [new_s]
            lvl = new_lvl
        return pd.DataFrame(
            [[
                pdf["event_type"].iloc[0],
                len(y),
                lvl,
                tr,
                ss[-1],
                lvl + tr + ss[0],
                abs_err / (len(y) - m),
            ]],
            columns=cols,
        )

    out = daily.groupBy("event_type").applyInPandas(hw, schema)
    return out.select(
        "event_type",
        "n_days",
        fround("level", 4).alias("level"),
        fround("trend", 4).alias("trend"),
        fround("s_last", 4).alias("s_last"),
        fround("forecast", 4).alias("forecast"),
        fround("mae", 4).alias("mae"),
    ).orderBy("event_type")


ORACLE["ts_holt_winters"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
init AS (
  SELECT event_type, max(n) AS n,
         avg(y) FILTER (WHERE t <= {HW_PERIOD}) AS a1,
         avg(y) FILTER (WHERE t BETWEEN {HW_PERIOD + 1}
                          AND {2 * HW_PERIOD}) AS a2,
         list(y ORDER BY t) FILTER (WHERE t <= {HW_PERIOD}) AS y_first
  FROM seq GROUP BY 1 HAVING max(n) >= {2 * HW_PERIOD}
),
hw AS (
  SELECT event_type, {HW_PERIOD} AS t, n,
         a1 AS l, (a2 - a1) / {HW_PERIOD}.0 AS b,
         list_transform(y_first, v -> v - a1) AS ss,
         CAST(0.0 AS DOUBLE) AS abs_err
  FROM init
  UNION ALL
  SELECT hw.event_type, hw.t + 1, hw.n,
         {HW_ALPHA} * (s.y - hw.ss[1])
           + (1.0 - {HW_ALPHA}) * (hw.l + hw.b),
         {HW_BETA} * (({HW_ALPHA} * (s.y - hw.ss[1])
                       + (1.0 - {HW_ALPHA}) * (hw.l + hw.b)) - hw.l)
           + (1.0 - {HW_BETA}) * hw.b,
         list_append(hw.ss[2:{HW_PERIOD}],
                     {HW_GAMMA} * (s.y - ({HW_ALPHA} * (s.y - hw.ss[1])
                       + (1.0 - {HW_ALPHA}) * (hw.l + hw.b)))
                       + (1.0 - {HW_GAMMA}) * hw.ss[1]),
         hw.abs_err + abs(s.y - (hw.l + hw.b + hw.ss[1]))
  FROM hw JOIN seq s
    ON s.event_type = hw.event_type AND s.t = hw.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       {fround_sql("l", 4)} AS level,
       {fround_sql("b", 4)} AS trend,
       {fround_sql("ss[" + str(HW_PERIOD) + "]", 4)} AS s_last,
       {fround_sql("l + b + ss[1]", 4)} AS forecast,
       {fround_sql("abs_err / (n - " + str(HW_PERIOD) + ")", 4)} AS mae
FROM hw WHERE t = n
ORDER BY event_type
"""


HURST_WINDOWS = (5, 10, 15, 30)  # R/S chunk sizes on the daily grid


def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via classical R/S analysis (Hurst 1951, Mandelbrot
    & Wallis 1969) per event type — the long-range-dependence gauge the
    ACF can't give: H ≈ 0.5 random walk, H > 0.5 persistent (trends
    feed trends — forecast horizons stretch), H < 0.5 anti-persistent.
    For each chunk size w the daily series splits into ⌊n/w⌋
    consecutive chunks; per chunk the range R of mean-adjusted
    cumulative deviations over the POPULATION σ gives R/S, averaged
    per w; H is the least-squares slope of ln(mean R/S) on ln(w).
    Every stage is bounded-frame window arithmetic: the chunk id is
    integer math on the day index, cumulative deviations run inside
    (type, w, chunk) windows whose length is w ≤ {max(HURST_WINDOWS)}
    — nothing is ever data-sized after the one daily aggregation.
    σ is spelled √(E[y²]−E[y]²) on BOTH engines (no stddev-flavor
    ambiguity); zero-σ chunks are excluded on both sides."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    wt = W.partitionBy("event_type").orderBy("day")
    base = daily.withColumn("t", F.row_number().over(wt))
    spine = spark.range(len(HURST_WINDOWS)).select(
        F.element_at(
            F.array(*[F.lit(w) for w in HURST_WINDOWS]),
            (F.col("id") + 1).cast("int"),
        ).alias("w")
    )
    chunked = (
        base.crossJoin(F.broadcast(spine))
        .withColumn("chunk", ((F.col("t") - 1) / F.col("w")).cast("int"))
    )
    wc = W.partitionBy("event_type", "w", "chunk")
    wcum = wc.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    stats = (
        chunked.withColumn("clen", F.count(F.lit(1)).over(wc))
        .filter(F.col("clen") == F.col("w"))  # drop the ragged tail
        .withColumn("cmean", F.avg("y").over(wc))
        .withColumn("csig", F.sqrt(
            F.avg(F.col("y") * F.col("y")).over(wc)
            - F.avg("y").over(wc) * F.avg("y").over(wc)
        ))
        # z spelled cumsum(y) − i·mean with IDENTICAL op order in the
        # oracle (a cumsum of (y−mean) is a different float sum)
        .withColumn("i", F.row_number().over(wc.orderBy("t")))
        .withColumn(
            "z",
            F.sum("y").over(wcum) - F.col("i") * F.col("cmean"),
        )
    )
    rs = (
        stats.groupBy("event_type", "w", "chunk")
        .agg(
            (F.max("z") - F.min("z")).alias("rng"),
            F.max("csig").alias("sig"),
        )
        .filter(F.col("sig") > 0)
        .groupBy("event_type", "w")
        .agg(F.avg(F.col("rng") / F.col("sig")).alias("mean_rs"))
    )
    pts = rs.select(
        "event_type",
        F.log("w").alias("x"),
        F.log("mean_rs").alias("yy"),
        F.col("w"),
        "mean_rs",
    )
    return (
        pts.groupBy("event_type")
        .agg(
            fround(
                (
                    F.avg(F.col("x") * F.col("yy"))
                    - F.avg("x") * F.avg("yy")
                )
                / (
                    F.avg(F.col("x") * F.col("x"))
                    - F.avg("x") * F.avg("x")
                ),
                4,
            ).alias("hurst"),
            F.count(F.lit(1)).alias("n_scales"),
            fround(
                F.max(F.when(F.col("w") == HURST_WINDOWS[0], F.col("mean_rs"))),
                4,
            ).alias("rs_small"),
            fround(
                F.max(
                    F.when(F.col("w") == HURST_WINDOWS[-1], F.col("mean_rs"))
                ),
                4,
            ).alias("rs_large"),
        )
        .orderBy("event_type")
    )


ORACLE["ts_hurst_exponent"] = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t
  FROM daily
),
chunked AS (
  SELECT b.event_type, b.y, b.t, s.w,
         CAST((b.t - 1) // s.w AS INT) AS chunk
  FROM base b, (SELECT unnest([{", ".join(str(w) for w in HURST_WINDOWS)}])
                AS w) s
),
winstats AS (
  SELECT *,
         count(*) OVER pc AS clen,
         avg(y) OVER pc AS cmean,
         sqrt(avg(y * y) OVER pc - avg(y) OVER pc * avg(y) OVER pc) AS csig,
         sum(y) OVER (PARTITION BY event_type, w, chunk ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cumy,
         sum(y) OVER pc AS toty,
         row_number() OVER (PARTITION BY event_type, w, chunk
                            ORDER BY t) AS i
  FROM chunked
  WINDOW pc AS (PARTITION BY event_type, w, chunk)
),
zrows AS (
  SELECT event_type, w, chunk, clen, csig,
         cumy - i * cmean AS z
  FROM winstats WHERE clen = w
),
rs AS (
  SELECT event_type, w, avg(rng / sig) AS mean_rs
  FROM (
    SELECT event_type, w, chunk,
           max(z) - min(z) AS rng, max(csig) AS sig
    FROM zrows GROUP BY 1, 2, 3
  ) WHERE sig > 0 GROUP BY 1, 2
),
pts AS (
  SELECT event_type, ln(CAST(w AS DOUBLE)) AS x, ln(mean_rs) AS yy,
         w, mean_rs
  FROM rs
)
SELECT event_type,
       {fround_sql(
           "(avg(x * yy) - avg(x) * avg(yy))"
           " / (avg(x * x) - avg(x) * avg(x))", 4)} AS hurst,
       count(*) AS n_scales,
       {fround_sql(
           f"max(CASE WHEN w = {HURST_WINDOWS[0]} THEN mean_rs END)", 4)}
         AS rs_small,
       {fround_sql(
           f"max(CASE WHEN w = {HURST_WINDOWS[-1]} THEN mean_rs END)", 4)}
         AS rs_large
FROM pts GROUP BY event_type ORDER BY event_type
"""


def forecast_ensemble_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-MAE weighted forecast combination of the three classic
    closed-form baselines — expanding MEAN, DRIFT (last value + average
    historical slope), and SEASONAL-NAIVE (y_{{t−7}}) — the "forecast
    combination beats its members" workhorse (Bates & Granger 1969),
    and the honest benchmark every fancy model must beat (compare
    ``ts_forecast_snaive_backtest``, which scores one member alone).
    Everything is window arithmetic on the calendar-bounded daily
    grid: expanding averages, lags, and first_value — NO recursion,
    NO UDF; in-sample one-step MAEs are scored on the common t ≥ 8
    support (snaive needs 7 lags), weights wᵢ ∝ 1/MAEᵢ, and the
    combined h=1 forecast is the weighted blend. One data-sized
    shuffle (the daily aggregate); per-type windows on ≤|days| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    wt = W.partitionBy("event_type").orderBy("day")
    wprev = wt.rowsBetween(W.unboundedPreceding, -1)
    wall = W.partitionBy("event_type")
    rows = (
        daily.withColumn("t", F.row_number().over(wt))
        .withColumn("n", F.count(F.lit(1)).over(wall))
        .withColumn("mean_pred", F.avg("y").over(wprev))
        .withColumn("y_prev", F.lag("y", 1).over(wt))
        .withColumn("y1", F.first("y").over(wt))
        .withColumn(
            "drift_pred",
            # ANSI guard: t=2 has zero history slope denominator; the
            # MAE support starts at t>=8 so the guard changes nothing
            F.when(
                F.col("t") >= 3,
                F.col("y_prev")
                + (F.col("y_prev") - F.col("y1")) / (F.col("t") - 2),
            ),
        )
        .withColumn("snaive_pred", F.lag("y", 7).over(wt))
    )
    valid = F.col("t") >= 8

    def mae(pred):
        return F.avg(F.when(valid, F.abs(F.col("y") - F.col(pred))))

    g = rows.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        mae("mean_pred").alias("mae_mean"),
        mae("drift_pred").alias("mae_drift"),
        mae("snaive_pred").alias("mae_snaive"),
        F.avg("y").alias("f_mean"),
        F.max(F.when(F.col("t") == F.col("n"), F.col("y"))).alias("yn"),
        F.max(F.when(F.col("t") == 1, F.col("y"))).alias("y_first"),
        F.max(F.when(F.col("t") == F.col("n") - 6, F.col("y"))).alias(
            "f_snaive"
        ),
    )
    f_drift = F.col("yn") + (F.col("yn") - F.col("y_first")) / (
        F.col("n_days") - 1
    )
    # 1e-12 floor: a zero MAE (perfectly predictable series) would be
    # an ANSI divide-by-zero; the floor hands such a member ~all the
    # weight, which is also the right answer — identical in the oracle
    def inv(c):
        return 1.0 / F.greatest(F.col(c), F.lit(1e-12))

    wsum = inv("mae_mean") + inv("mae_drift") + inv("mae_snaive")
    w_mean = inv("mae_mean") / wsum
    w_drift = inv("mae_drift") / wsum
    w_snaive = inv("mae_snaive") / wsum
    return g.select(
        "event_type",
        "n_days",
        fround("mae_mean", 4).alias("mae_mean"),
        fround("mae_drift", 4).alias("mae_drift"),
        fround("mae_snaive", 4).alias("mae_snaive"),
        fround(w_mean, 4).alias("w_mean"),
        fround(w_drift, 4).alias("w_drift"),
        fround(w_snaive, 4).alias("w_snaive"),
        fround(
            w_mean * F.col("f_mean")
            + w_drift * f_drift
            + w_snaive * F.col("f_snaive"),
            4,
        ).alias("forecast_combined"),
    ).orderBy("event_type")


ORACLE["forecast_ensemble_basic"] = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
rows_ AS (
  SELECT event_type, y,
         row_number() OVER w AS t,
         count(*) OVER (PARTITION BY event_type) AS n,
         avg(y) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS mean_pred,
         lag(y, 1) OVER w AS y_prev,
         first_value(y) OVER w AS y1,
         lag(y, 7) OVER w AS snaive_pred
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
g AS (
  SELECT event_type,
         CAST(max(n) AS BIGINT) AS n_days,
         avg(CASE WHEN t >= 8 THEN abs(y - mean_pred) END) AS mae_mean,
         avg(CASE WHEN t >= 8
                  THEN abs(y - (y_prev + (y_prev - y1) / (t - 2))) END)
           AS mae_drift,
         avg(CASE WHEN t >= 8 THEN abs(y - snaive_pred) END) AS mae_snaive,
         avg(y) AS f_mean,
         max(CASE WHEN t = n THEN y END) AS yn,
         max(CASE WHEN t = 1 THEN y END) AS y_first,
         max(CASE WHEN t = n - 6 THEN y END) AS f_snaive
  FROM rows_ GROUP BY 1
),
wts AS (
  SELECT *,
         1.0 / greatest(mae_mean, 1e-12) + 1.0 / greatest(mae_drift, 1e-12)
           + 1.0 / greatest(mae_snaive, 1e-12) AS wsum,
         yn + (yn - y_first) / (n_days - 1) AS f_drift
  FROM g
)
SELECT event_type, n_days,
       {fround_sql("mae_mean", 4)} AS mae_mean,
       {fround_sql("mae_drift", 4)} AS mae_drift,
       {fround_sql("mae_snaive", 4)} AS mae_snaive,
       {fround_sql("(1.0 / greatest(mae_mean, 1e-12)) / wsum", 4)} AS w_mean,
       {fround_sql("(1.0 / greatest(mae_drift, 1e-12)) / wsum", 4)} AS w_drift,
       {fround_sql("(1.0 / greatest(mae_snaive, 1e-12)) / wsum", 4)} AS w_snaive,
       {fround_sql(
           "((1.0 / greatest(mae_mean, 1e-12)) / wsum) * f_mean"
           " + ((1.0 / greatest(mae_drift, 1e-12)) / wsum) * f_drift"
           " + ((1.0 / greatest(mae_snaive, 1e-12)) / wsum) * f_snaive", 4)}
         AS forecast_combined
FROM wts ORDER BY event_type
"""


def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-time-warping distance between every pair of event-type
    daily series — the alignment-tolerant series similarity (a lagged
    but same-shaped pair scores close where Euclidean/correlation
    punish the shift; complements ``ts_cross_correlation``, which
    only tests FIXED lags). Series are z-normalized, then the classic
    O(n·m) DP: dp(i,j) = |a_i−b_j| + min(diag, up, left). Scale
    shape: the data-sized work is ONE daily aggregation; the DP runs
    per TYPE-PAIR on calendar-bounded series (30×30 here — bounded by
    days, never by event rows) inside one Arrow batch per pair via
    ``applyInPandas``. The DuckDB oracle replays the identical DP as
    a RECURSIVE CTE in row-major cell order carrying a ring buffer of
    the last m+1 cells as a LIST column (diag/up/left live at ring
    positions 1/2/m+1 — the textbook O(m)-memory DP layout), over an
    AS MATERIALIZED cost matrix. Output: per pair, the DTW distance
    and the per-step normalized distance."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    stats = daily.groupBy("event_type").agg(
        F.avg("y").alias("m"), F.stddev_samp("y").alias("sd")
    )
    series = (
        daily.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "day",
                            F.when(
                                F.col("sd") > 0,
                                (F.col("y") - F.col("m")) / F.col("sd"),
                            )
                            .otherwise(F.lit(0.0))
                            .alias("z"),
                        )
                    )
                ),
                lambda s: s["z"],
            ).alias("zs")
        )
    )
    a = series.select(
        F.col("event_type").alias("t1"), F.col("zs").alias("za")
    )
    b = series.select(
        F.col("event_type").alias("t2"), F.col("zs").alias("zb")
    )
    pairs = a.join(F.broadcast(b), F.col("t1") < F.col("t2"))

    schema = (
        "t1 string, t2 string, n1 bigint, n2 bigint, dtw double,"
        " dtw_per_step double"
    )

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            xs, ys = list(row["za"]), list(row["zb"])
            n, m = len(xs), len(ys)
            prev = [0.0] * m
            for j in range(m):
                prev[j] = abs(xs[0] - ys[j]) + (prev[j - 1] if j else 0.0)
            for i in range(1, n):
                cur = [0.0] * m
                for j in range(m):
                    cost = abs(xs[i] - ys[j])
                    diag = prev[j - 1] if j else float("inf")
                    up = prev[j]
                    left = cur[j - 1] if j else float("inf")
                    cur[j] = cost + min(diag, up, left)
                prev = cur
            d = prev[-1]
            out.append([row["t1"], row["t2"], n, m, d, d / (n + m)])
        return pd.DataFrame(
            out, columns=["t1", "t2", "n1", "n2", "dtw", "dtw_per_step"]
        )

    res = pairs.groupBy("t1", "t2").applyInPandas(dtw, schema)
    return res.select(
        "t1",
        "t2",
        "n1",
        "n2",
        fround("dtw", 4).alias("dtw"),
        fround("dtw_per_step", 4).alias("dtw_per_step"),
    ).orderBy("t1", "t2")


ORACLE["ts_dtw_distance"] = """
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(y) AS m, stddev_samp(y) AS sd
  FROM daily GROUP BY 1
),
z AS (
  SELECT d.event_type,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS i,
         CASE WHEN s.sd > 0 THEN (d.y - s.m) / s.sd ELSE 0.0 END AS v
  FROM daily d JOIN stats s ON s.event_type = d.event_type
),
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2
  FROM stats a JOIN stats b ON a.event_type < b.event_type
),
cost AS MATERIALIZED (
  SELECT p.t1, p.t2, za.i AS i, zb.i AS j, abs(za.v - zb.v) AS cst
  FROM pairs p
  JOIN z za ON za.event_type = p.t1
  JOIN z zb ON zb.event_type = p.t2
),
dims AS MATERIALIZED (
  SELECT t1, t2, max(i) AS n, max(j) AS m FROM cost GROUP BY 1, 2
),
row1 AS (
  SELECT c.t1, c.t2, c.j,
         sum(c.cst) OVER (PARTITION BY c.t1, c.t2
                          ORDER BY c.j ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS dp
  FROM cost c WHERE c.i = 1
),
seed AS (
  SELECT d.t1, d.t2, d.n, d.m, d.m AS c,
         [CAST(1e18 AS DOUBLE)] || list(r.dp ORDER BY r.j) AS ring
  FROM dims d JOIN row1 r ON r.t1 = d.t1 AND r.t2 = d.t2
  GROUP BY d.t1, d.t2, d.n, d.m
),
dp AS (
  SELECT t1, t2, n, m, c, ring FROM seed
  UNION ALL
  SELECT dp.t1, dp.t2, dp.n, dp.m, dp.c + 1,
         dp.ring[2:] || [
           k.cst + least(
             CASE WHEN (dp.c % dp.m) + 1 = 1 THEN CAST(1e18 AS DOUBLE)
                  ELSE dp.ring[1] END,
             dp.ring[2],
             CASE WHEN (dp.c % dp.m) + 1 = 1 THEN CAST(1e18 AS DOUBLE)
                  ELSE dp.ring[dp.m + 1] END
           )
         ]
  FROM dp
  JOIN cost k
    ON k.t1 = dp.t1 AND k.t2 = dp.t2
   AND k.i = (dp.c // dp.m) + 1
   AND k.j = (dp.c % dp.m) + 1
  WHERE dp.c < dp.n * dp.m
),
fin AS (
  SELECT t1, t2, n, m, ring[m + 1] AS d
  FROM dp WHERE c = n * m
)
SELECT t1, t2, CAST(n AS BIGINT) AS n1, CAST(m AS BIGINT) AS n2,
       floor(round(d, 8) * 10000) / 10000 AS dtw,
       floor(round(d / (n + m), 8) * 10000) / 10000 AS dtw_per_step
FROM fin ORDER BY t1, t2
"""


CUSUM_SLACK = 0.5  # k: slack in σ units
CUSUM_H = 4.0  # h: alarm threshold in σ units


def ts_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control chart per event type over the daily
    mean series — the classic sequential detector for small sustained
    mean shifts (Page 1954): S_t = max(0, S_{t−1} + z_t − k), alarm
    when S_t > h. The recursion LOOKS sequential but has the exact
    closed form S_t = C_t − min_{j≤t} C_j with C_t = Σ(z−k) — a
    running sum plus a running min, i.e. TWO window passes over the
    calendar-sized daily frame, fully whole-stage-codegen, no UDF, no
    iteration (same trick family as ts_ewma's closed form).
    Standardization uses each type's own daily mean/σ so thresholds
    are in σ units. Output: per-type summary (max CUSUM height, alarm
    count, first alarm day) — always |types| rows, so the readout is
    informative on stationary traffic too (max height ≪ h says "no
    drift and how much headroom")."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.avg("value").alias("y"))
    stats = daily.groupBy("event_type").agg(
        F.avg("y").alias("mu"), F.stddev_samp("y").alias("sd")
    )
    z = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        ((F.col("y") - F.col("mu")) / F.col("sd") - CUSUM_SLACK).alias("zk"),
    )
    wcum = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = z.select(
        "event_type", "day", F.sum("zk").over(wcum).alias("c")
    )
    # S_t = C_t − min(0, min_{j≤t} C_j): the implicit S_0 = 0 start
    # means the reflecting floor includes the empty prefix
    s = cum.select(
        "event_type",
        "day",
        (
            F.col("c")
            - F.least(F.lit(0.0), F.min("c").over(wcum))
        ).alias("s"),
    )
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            fround(F.max("s"), 4).alias("max_cusum"),
            F.sum((F.col("s") > CUSUM_H).cast("int")).cast("bigint").alias(
                "n_alarm_days"
            ),
            F.date_format(
                F.min(F.when(F.col("s") > CUSUM_H, F.col("day"))),
                "yyyy-MM-dd",
            ).alias("first_alarm_day"),
        )
        .orderBy("event_type")
    )


ORACLE["ts_cusum_alarm"] = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(y) AS mu, stddev_samp(y) AS sd
  FROM daily GROUP BY 1
),
z AS (
  SELECT d.event_type, d.day, (d.y - s.mu) / s.sd - {CUSUM_SLACK} AS zk
  FROM daily d JOIN stats s USING (event_type)
),
cum AS (
  SELECT event_type, day,
         sum(zk) OVER w AS c
  FROM z
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT event_type, day,
         c - least(0.0, min(c) OVER w) AS s
  FROM cum
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       count(*) AS n_days,
       {fround_sql("max(s)", 4)} AS max_cusum,
       CAST(sum(CASE WHEN s > {CUSUM_H} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_days,
       strftime(min(CASE WHEN s > {CUSUM_H} THEN day END), '%Y-%m-%d')
         AS first_alarm_day
FROM s GROUP BY event_type
ORDER BY event_type
"""


def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile per event type over hourly counts: Fano
    factor (var/mean — 1 for a Poisson process, ≫1 for bursty
    arrivals) and the Goh–Barabási burstiness index B = (σ−μ)/(σ+μ)
    ∈ (−1, 1). The single cheapest way to tell steady telemetry from
    flash-crowd traffic, and a routine feature in event-stream
    profiling. One scan → (type, hour) counts → per-type moments:
    two bounded aggregations, map-side combinable, nothing else."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        hourly.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.avg("c").alias("mu"),
            F.stddev_samp("c").alias("sd"),
        )
        .select(
            "event_type",
            "n_hours",
            fround("mu", 4).alias("mean_per_hour"),
            fround(F.col("sd") * F.col("sd") / F.col("mu"), 4).alias(
                "fano_factor"
            ),
            fround(
                (F.col("sd") - F.col("mu")) / (F.col("sd") + F.col("mu")), 6
            ).alias("burstiness_b"),
        )
        .orderBy("event_type")
    )


ORACLE["events_burstiness"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, count(*) AS n_hours, avg(c) AS mu,
         stddev_samp(c) AS sd
  FROM hourly GROUP BY 1
)
SELECT event_type, n_hours,
       {fround_sql("mu", 4)} AS mean_per_hour,
       {fround_sql("sd * sd / mu", 4)} AS fano_factor,
       {fround_sql("(sd - mu) / (sd + mu)", 6)} AS burstiness_b
FROM m ORDER BY event_type
"""


SAX_SEGMENTS = 8
# Gaussian breakpoints for a 4-symbol alphabet (Lin et al. 2003)
SAX_BREAKS = (-0.6745, 0.0, 0.6745)


def ts_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003) of
    each event type's daily series — the discretization behind
    motif/novelty mining and cheap time-series indexing: z-normalize,
    Piecewise-Aggregate into {SAX_SEGMENTS} segments, map segment
    means to letters a–d at the Gaussian breakpoints ±0.6745/0. Two
    serial aggregations (daily means → per-type moments → segment
    means) and a per-type ordered string_agg over ≤{SAX_SEGMENTS}
    rows; segment ids come from the day's RANK (not timestamps), so
    irregular calendars still split evenly. The SAX word is the
    whole-series shape signature — identical words ⇒ similar shapes
    under the PAA lower bound."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.avg("value").alias("y"))
    stats = daily.groupBy("event_type").agg(
        F.avg("y").alias("mu"),
        F.stddev_samp("y").alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    w = W.partitionBy("event_type").orderBy("day")
    seg = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        ((F.col("y") - F.col("mu")) / F.col("sd")).alias("z"),
        F.floor(
            (F.row_number().over(w) - 1) * SAX_SEGMENTS / F.col("n")
        ).cast("int").alias("seg"),
    )
    paa = seg.groupBy("event_type", "seg").agg(F.avg("z").alias("m"))
    sym = (
        F.when(F.col("m") < SAX_BREAKS[0], F.lit("a"))
        .when(F.col("m") < SAX_BREAKS[1], F.lit("b"))
        .when(F.col("m") < SAX_BREAKS[2], F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        paa.select("event_type", "seg", sym.alias("sym"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                    lambda s: s.getField("sym"),
                ),
                "",
            ).alias("sax_word"),
        )
        .orderBy("event_type")
    )


ORACLE["ts_sax_symbolic"] = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(y) AS mu, stddev_samp(y) AS sd, count(*) AS n
  FROM daily GROUP BY 1
),
seg AS (
  SELECT d.event_type,
         (d.y - s.mu) / s.sd AS z,
         CAST(floor((row_number() OVER (PARTITION BY d.event_type
                                        ORDER BY d.day) - 1)
                    * {SAX_SEGMENTS} / s.n) AS INT) AS seg
  FROM daily d JOIN stats s USING (event_type)
),
paa AS (
  SELECT event_type, seg, avg(z) AS m
  FROM seg GROUP BY 1, 2
)
SELECT event_type,
       count(*) AS n_segments,
       string_agg(CASE WHEN m < {SAX_BREAKS[0]} THEN 'a'
                       WHEN m < {SAX_BREAKS[1]} THEN 'b'
                       WHEN m < {SAX_BREAKS[2]} THEN 'c'
                       ELSE 'd' END, '' ORDER BY seg) AS sax_word
FROM paa GROUP BY event_type
ORDER BY event_type
"""


PERIOD_H = 24.0  # target period: daily cycle, hours


def ts_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frequency periodogram at the daily harmonic — the
    Fourier view of seasonality that complements ts_seasonal_profile
    (the shape) and ts_autocorrelation (the lag structure): project
    each type's hourly-count series onto cos/sin at period {PERIOD_H} h,
    report amplitude, phase (the hour the cycle peaks), and the share
    of variance the harmonic explains — the number that says whether
    a daily-seasonal model is worth fitting at all. One scan → hourly
    counts → per-type CLOSED-FORM sums (Σy·cos, Σy·sin are plain
    aggregations; no FFT machinery needed for one frequency); every
    trig argument is exact integer-hour arithmetic so both engines
    compute identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    t = (F.unix_timestamp("h") / 3600).cast("bigint")
    w = 2.0 * 3.141592653589793 / PERIOD_H
    proj = hourly.select(
        "event_type",
        "y",
        F.cos(t.cast("double") * w).alias("c"),
        F.sin(t.cast("double") * w).alias("s"),
    )
    g = proj.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.avg("y").alias("mu"),
        F.var_pop("y").alias("vy"),
        F.sum(F.col("y") * F.col("c")).alias("yc"),
        F.sum(F.col("y") * F.col("s")).alias("ys"),
        F.sum("c").alias("sc"),
        F.sum("s").alias("ss"),
    )
    # center y before projecting: Σ(y−μ)cos = Σy·cos − μ·Σcos
    a = (F.col("yc") - F.col("mu") * F.col("sc")) * 2.0 / F.col("n_hours")
    b = (F.col("ys") - F.col("mu") * F.col("ss")) * 2.0 / F.col("n_hours")
    amp2 = a * a + b * b
    return g.select(
        "event_type",
        "n_hours",
        fround(F.sqrt(amp2), 4).alias("amplitude"),
        fround(
            (F.atan2(b, a) / F.lit(w)
             + F.lit(PERIOD_H)) % F.lit(PERIOD_H),
            4,
        ).alias("peak_hour_utc"),
        fround(amp2 / (2.0 * F.col("vy")), 4).alias("variance_share"),
    ).orderBy("event_type")


ORACLE["ts_periodogram_daily"] = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
proj AS (
  SELECT event_type, y,
         cos(CAST(CAST(epoch(h) / 3600 AS BIGINT) AS DOUBLE)
             * {2.0 * 3.141592653589793 / PERIOD_H}) AS c,
         sin(CAST(CAST(epoch(h) / 3600 AS BIGINT) AS DOUBLE)
             * {2.0 * 3.141592653589793 / PERIOD_H}) AS s
  FROM hourly
),
g AS (
  SELECT event_type, count(*) AS n_hours, avg(y) AS mu, var_pop(y) AS vy,
         sum(y * c) AS yc, sum(y * s) AS ys, sum(c) AS sc, sum(s) AS ss
  FROM proj GROUP BY 1
)
SELECT event_type, n_hours,
       {fround_sql("sqrt(pow((yc - mu * sc) * 2.0 / n_hours, 2) + pow((ys - mu * ss) * 2.0 / n_hours, 2))", 4)} AS amplitude,
       {fround_sql(f"fmod(atan2((ys - mu * ss) * 2.0 / n_hours, (yc - mu * sc) * 2.0 / n_hours) / {2.0 * 3.141592653589793 / PERIOD_H} + {PERIOD_H}, {PERIOD_H})", 4)} AS peak_hour_utc,
       {fround_sql("(pow((yc - mu * sc) * 2.0 / n_hours, 2) + pow((ys - mu * ss) * 2.0 / n_hours, 2)) / (2.0 * vy)", 4)} AS variance_share
FROM g ORDER BY event_type
"""


KALMAN_Q = 0.1  # process (level-drift) variance
KALMAN_R = 1.0  # observation-noise variance
KALMAN_P0 = 1.0  # prior variance on the initial level


def ts_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-level Kalman filter per event type over the daily mean
    series — the probabilistic cousin of EWMA: the level is a random
    walk (process variance Q={q}) observed under noise (R={r}), and
    the filter's gain K_t = P_t/(P_t+R) ADAPTS per step instead of
    being a fixed α, converging to the steady-state gain the data
    implies. a_t and P_t are MUTUALLY recursive through K_t (unlike
    EWMA/CUSUM there is no closed form), so this is the
    ``applyInPandas`` case exactly like ``ts_holt_linear``: one
    data-sized shuffle shrinks events to the calendar-bounded daily
    frame, then each key's bounded series runs the recursion in one
    Arrow batch. Output per type: final level, final variance,
    steady-state gain, innovation MAE. The DuckDB oracle replays the
    identical recursion as a RECURSIVE CTE — same doubles, same
    order of operations."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.avg("value").alias("y")
    )

    schema = (
        "event_type string, n_days bigint, level double, p_var double,"
        " gain double, innov_mae double"
    )

    def kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        y = pdf["y"].to_list()
        a, p = y[0], KALMAN_P0
        abs_err, k = 0.0, p / (p + KALMAN_R)
        for t in range(1, len(y)):
            p_pred = p + KALMAN_Q
            k = p_pred / (p_pred + KALMAN_R)
            abs_err += abs(y[t] - a)
            a = a + k * (y[t] - a)
            p = (1.0 - k) * p_pred
        return pd.DataFrame(
            [[
                pdf["event_type"].iloc[0],
                len(y),
                a,
                p,
                k,
                abs_err / max(len(y) - 1, 1),
            ]],
            columns=["event_type", "n_days", "level", "p_var", "gain", "innov_mae"],
        )

    out = daily.groupBy("event_type").applyInPandas(kalman, schema)
    return out.select(
        "event_type",
        "n_days",
        fround("level", 4).alias("level"),
        fround("p_var", 6).alias("p_var"),
        fround("gain", 6).alias("gain"),
        fround("innov_mae", 4).alias("innov_mae"),
    ).orderBy("event_type")


ts_kalman_local_level.__doc__ = ts_kalman_local_level.__doc__.format(
    q=KALMAN_Q, r=KALMAN_R
)


ORACLE["ts_kalman_local_level"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS y
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, y,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM daily
),
kf AS (
  SELECT event_type, 1 AS t, n,
         y AS a, CAST({KALMAN_P0} AS DOUBLE) AS p,
         CAST({KALMAN_P0} AS DOUBLE) / ({KALMAN_P0} + {KALMAN_R}) AS k,
         CAST(0.0 AS DOUBLE) AS abs_err
  FROM seq WHERE t = 1
  UNION ALL
  SELECT kf.event_type, kf.t + 1, kf.n,
         kf.a + ((kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}))
              * (s.y - kf.a),
         (1.0 - (kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}))
              * (kf.p + {KALMAN_Q}),
         (kf.p + {KALMAN_Q}) / (kf.p + {KALMAN_Q} + {KALMAN_R}),
         kf.abs_err + abs(s.y - kf.a)
  FROM kf JOIN seq s
    ON s.event_type = kf.event_type AND s.t = kf.t + 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       {fround_sql("a", 4)} AS level,
       {fround_sql("p", 6)} AS p_var,
       {fround_sql("k", 6)} AS gain,
       {fround_sql("abs_err / greatest(n - 1, 1)", 4)} AS innov_mae
FROM kf WHERE t = n
ORDER BY event_type
"""


CROSTON_ALPHA = 0.2  # smoothing for both demand size and interval
CROSTON_PART_MOD = 97  # deterministic part sample: p_partkey % mod == 0


def forecast_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) — THE forecaster for intermittent
    demand (spare parts, slow movers), where most days have zero
    demand and plain EWMA chases zeros: smooth demand SIZE z and
    inter-demand INTERVAL q as two independent EWMAs updated only on
    demand occurrences; forecast per period = z/q. Demand: daily
    quantity per sampled part (p_partkey % {mod} == 0 — the sample
    scales with the catalog). Because the two EWMAs don't interact,
    the recursion has a CLOSED FORM — z_n = (1−α)^(n−1)d_1 +
    Σ α(1−α)^(n−i)d_i — so the whole thing is two weighted window
    sums over each part's bounded demand-day frame: no UDF, no
    iteration, whole-stage codegen (same trick family as ts_ewma).
    One lineitem scan → per-(part, day) partial agg; everything after
    is calendar-bounded per key."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % CROSTON_PART_MOD == 0
    )
    daily = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.to_date("l_shipdate").alias("day"),
    ).agg(F.sum("l_quantity").alias("d"))
    wk = W.partitionBy("part").orderBy("day")
    seq = daily.select(
        "part",
        "d",
        F.row_number().over(wk).alias("t"),
        F.count(F.lit(1)).over(
            W.partitionBy("part").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("n"),
        F.datediff("day", F.lag("day").over(wk)).cast("double").alias("q"),
    )
    a = CROSTON_ALPHA
    # EWMA closed form: weight (1-a)^(n-1) on the first sample, else
    # a(1-a)^(n-t); intervals start at t=2 with init q_2 (n-1 terms)
    wz = F.when(
        F.col("t") == 1, F.pow(F.lit(1.0 - a), F.col("n") - 1)
    ).otherwise(F.lit(a) * F.pow(F.lit(1.0 - a), F.col("n") - F.col("t")))
    wq = F.when(F.col("t") == 2, F.pow(F.lit(1.0 - a), F.col("n") - 2)).when(
        F.col("t") > 2,
        F.lit(a) * F.pow(F.lit(1.0 - a), F.col("n") - F.col("t")),
    )
    agg = (
        seq.groupBy("part")
        .agg(
            F.max("n").cast("bigint").alias("n_demands"),
            F.sum(wz * F.col("d")).alias("z"),
            F.sum(wq * F.col("q")).alias("p"),
            fround(F.avg("d"), 4).alias("mean_size"),
        )
        .filter(F.col("n_demands") >= 2)
    )
    return agg.select(
        "part",
        "n_demands",
        fround("z", 4).alias("smoothed_size"),
        fround("p", 4).alias("smoothed_interval"),
        fround(F.col("z") / F.col("p"), 4).alias("demand_per_day"),
        "mean_size",
    ).orderBy("part")


forecast_croston.__doc__ = forecast_croston.__doc__.format(mod=CROSTON_PART_MOD)


ORACLE["forecast_croston"] = f"""
WITH daily AS (
  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
         sum(l_quantity) AS d
  FROM lineitem
  WHERE l_partkey % {CROSTON_PART_MOD} = 0
  GROUP BY 1, 2
),
seq AS (
  SELECT part, d,
         row_number() OVER (PARTITION BY part ORDER BY day) AS t,
         count(*) OVER (PARTITION BY part) AS n,
         CAST(date_diff('day', lag(day) OVER (PARTITION BY part ORDER BY day), day) AS DOUBLE) AS q
  FROM daily
),
agg AS (
  SELECT part,
         CAST(max(n) AS BIGINT) AS n_demands,
         sum(CASE WHEN t = 1 THEN pow({1.0 - CROSTON_ALPHA}, n - 1)
                  ELSE {CROSTON_ALPHA} * pow({1.0 - CROSTON_ALPHA}, n - t) END * d) AS z,
         sum(CASE WHEN t = 2 THEN pow({1.0 - CROSTON_ALPHA}, n - 2) * q
                  WHEN t > 2 THEN {CROSTON_ALPHA} * pow({1.0 - CROSTON_ALPHA}, n - t) * q
             END) AS p,
         {fround_sql("avg(d)", 4)} AS mean_size
  FROM seq GROUP BY 1
)
SELECT part, n_demands,
       {fround_sql("z", 4)} AS smoothed_size,
       {fround_sql("p", 4)} AS smoothed_interval,
       {fround_sql("z / p", 4)} AS demand_per_day,
       mean_size
FROM agg WHERE n_demands >= 2
ORDER BY part
"""


QUERIES = {
    "ts_pacf": ts_pacf,
    "ts_granger_lite": ts_granger_lite,
    "forecast_theta": forecast_theta,
    "ts_kalman_local_level": ts_kalman_local_level,
    "forecast_croston": forecast_croston,
    "ts_periodogram_daily": ts_periodogram_daily,
    "ts_sax_symbolic": ts_sax_symbolic,
    "ts_cusum_alarm": ts_cusum_alarm,
    "events_burstiness": events_burstiness,
    "ts_holt_linear": ts_holt_linear,
    "ts_holt_winters": ts_holt_winters,
    "ts_dtw_distance": ts_dtw_distance,
    "forecast_ensemble_basic": forecast_ensemble_basic,
    "ts_hurst_exponent": ts_hurst_exponent,
    "ts_theil_sen_trend": ts_theil_sen_trend,
    "ts_rolling_median": ts_rolling_median,
    "ts_gap_outages": ts_gap_outages,
    "events_peak_concurrency": events_peak_concurrency,
    "ts_forecast_snaive_backtest": ts_forecast_snaive_backtest,
    "ts_changepoint_meanshift": ts_changepoint_meanshift,
    "ts_stl_decompose": ts_stl_decompose,
    "ts_seasonal_profile": ts_seasonal_profile,
    "late_data_audit": late_data_audit,
    "ts_gapfill_hourly": ts_gapfill_hourly,
    "window_lag_delta": window_lag_delta,
    "window_rank_suite": window_rank_suite,
    "ts_ohlc_resample": ts_ohlc_resample,
    "session_window_builtin": session_window_builtin,
    "window_range_24h": window_range_24h,
    "window_rolling_distinct": window_rolling_distinct,
    "ts_interpolate_linear": ts_interpolate_linear,
    "ts_ewma": ts_ewma,
    "window_sliding_counts": window_sliding_counts,
    "ts_multires_rollup": ts_multires_rollup,
    "ts_time_weighted_avg": ts_time_weighted_avg,
    "ts_anomaly_seasonal": ts_anomaly_seasonal,
    "ts_autocorrelation": ts_autocorrelation,
    "ts_cross_correlation": ts_cross_correlation,
}
