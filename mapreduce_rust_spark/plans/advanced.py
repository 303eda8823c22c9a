"""Advanced relational operators beyond the reference AND beyond basic
Spark surface: as-of join, range join, exact percentiles, GROUPING
SETS (via the SQL API), approximate distinct sketches.

The as-of join is the flagship "custom operator" (SURVEY.md §2c lists
joins as wholly absent from the reference; Spark itself has no native
as-of join either): implemented as a composition of built-in ops —
union the two tagged streams, sort within user partitions, and carry
the last-seen left-side timestamp forward with ``last(ignorenulls)``.
That is a single shuffle + sort per side (merge-join shape), never a
row-multiplying interval product — the formulation that survives
100 TB, unlike the naive ``a.ts BETWEEN b.ts - Δ AND b.ts`` theta
join. Oracle: DuckDB's native ASOF JOIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.functions.text import hash64, hash64_sql
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
) -> DataFrame:
    """For each left row, the greatest right-side ``ts`` ≤ left ``ts``
    with the same key (``on``). Returns left rows + ``asof_ts``.

    Implementation: tag and union both streams, then within each key
    partition (ordered by ts, with right rows sorting before left rows
    at equal ts so ties match ``>=`` semantics) carry the last non-null
    right timestamp forward. One shuffle on the key, one sort — the
    same cost profile as a sort-merge join."""
    l_tagged = left.select(
        F.col(on), F.col(ts_col).alias("_ts"), F.lit(1).alias("_side"),
        *[F.col(c) for c in left.columns if c not in (on, ts_col)],
        F.lit(None).cast("timestamp").alias("_r_ts"),
    )
    r_tagged = right.select(
        F.col(on), F.col(ts_col).alias("_ts"), F.lit(0).alias("_side"),
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
          for c in left.columns if c not in (on, ts_col)],
        F.col(ts_col).alias("_r_ts"),
    )
    w = (
        W.partitionBy(on)
        .orderBy("_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    unioned = l_tagged.unionByName(r_tagged).withColumn(
        "asof_ts", F.last("_r_ts", ignorenulls=True).over(w)
    )
    return unioned.filter(F.col("_side") == 1).select(
        on,
        F.col("_ts").alias(ts_col),
        *[c for c in left.columns if c not in (on, ts_col)],
        "asof_ts",
    )


def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent click at or
    before it, plus the think-time delay in seconds."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(purchases, clicks, on="user_id", ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_ts").alias("click_ts"),
        # subtract fractional epoch seconds BEFORE flooring —
        # unix_timestamp() floors each side first, off-by-one on
        # micro-precision timestamps
        F.floor(F.col("ts").cast("double") - F.col("asof_ts").cast("double"))
        .cast("bigint")
        .alias("delay_sec"),
    )


ORACLE["asof_join"] = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT p.event_id, p.user_id, c.ts AS click_ts,
       CAST(floor(epoch(p.ts) - epoch(c.ts)) AS BIGINT) AS delay_sec
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: count event pairs per user within a 5-minute
    forward window. The equi-key (user_id) drives the join strategy;
    the range predicate is a post-join filter — no interval explosion
    beyond the per-user group."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select("user_id", F.col("ts").alias("ts_a"), F.col("event_id").alias("id_a"))
    b = ev.select(
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        F.col("event_id").alias("id_b"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (
            # fractional-epoch difference (unix_timestamp floors each
            # side first, which disagrees at the window boundary)
            F.col("ts_b").cast("double") - F.col("ts_a").cast("double") <= 300
        ),
    )
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs_5min"))


ORACLE["range_join"] = """
SELECT a.user_id, count(*) AS n_pairs_5min
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND b.ts >= a.ts AND epoch(b.ts) - epoch(a.ts) <= 300
GROUP BY a.user_id
"""


def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of: each purchase matched to the CLOSEST
    click in either direction within a 10-minute tolerance (ties →
    the earlier click). Same scale shape as the backward as-of — one
    union, ONE key shuffle and ONE sort feed two window frames (the
    backward carry-forward and the forward carry-back share the same
    partitioning and ordering), then a per-row arithmetic pick. Never
    an interval product."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    l_tagged = purchases.select(
        "user_id", F.col("ts").alias("_ts"), F.lit(1).alias("_side"),
        "event_id", F.lit(None).cast("timestamp").alias("_r_ts"),
    )
    r_tagged = clicks.select(
        "user_id", F.col("ts").alias("_ts"), F.lit(0).alias("_side"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("_r_ts"),
    )
    base = W.partitionBy("user_id").orderBy("_ts", "_side")
    w_back = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    w_fwd = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    u = (
        l_tagged.unionByName(r_tagged)
        .withColumn("back_ts", F.last("_r_ts", ignorenulls=True).over(w_back))
        .withColumn("fwd_ts", F.first("_r_ts", ignorenulls=True).over(w_fwd))
        .filter(F.col("_side") == 1)
    )
    d_back = F.col("_ts").cast("double") - F.col("back_ts").cast("double")
    d_fwd = F.col("fwd_ts").cast("double") - F.col("_ts").cast("double")
    TOL = 600.0
    back_ok = F.col("back_ts").isNotNull() & (d_back <= TOL)
    fwd_ok = F.col("fwd_ts").isNotNull() & (d_fwd <= TOL)
    # nearest; tie -> earlier (the backward side)
    pick_back = back_ok & (~fwd_ok | (d_back <= d_fwd))
    nearest = F.when(pick_back, F.col("back_ts")).when(fwd_ok, F.col("fwd_ts"))
    dist = F.when(pick_back, d_back).when(fwd_ok, d_fwd)
    return u.filter(nearest.isNotNull()).select(
        "event_id",
        "user_id",
        F.date_format(nearest, "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.floor(dist).cast("bigint").alias("dist_sec"),
        F.when(pick_back, F.lit("back")).otherwise(F.lit("fwd")).alias("direction"),
    )


ORACLE["asof_join_nearest"] = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
cand AS (
  SELECT p.event_id, p.user_id, p.ts AS p_ts, c.ts AS c_ts,
         abs(epoch(p.ts) - epoch(c.ts)) AS dist,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY abs(epoch(p.ts) - epoch(c.ts)), c.ts) AS rk
  FROM p JOIN c ON p.user_id = c.user_id
              AND abs(epoch(p.ts) - epoch(c.ts)) <= 600
)
SELECT event_id, user_id,
       strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CAST(floor(dist) AS BIGINT) AS dist_sec,
       CASE WHEN c_ts <= p_ts THEN 'back' ELSE 'fwd' END AS direction
FROM cand WHERE rk = 1
"""


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: per-user activity sessions (30-min gap,
    built with the native ``session_window`` aggregation) overlapped
    against the hourly wall-clock grid — "how many sessions were live
    in each hour". The grid side is a tiny generated dimension
    (broadcast); the overlap predicate filters inside the broadcast
    join, so the session side never shuffles for it — the shape that
    survives when sessions number in the billions but the grid stays
    small."""
    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .drop("w")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour_start")
    )
    # overlap of an hour slot [h, h+1) with the CLOSED session span
    # [s_start, s_end]: the end instant is a real event (the session is
    # live at it), and a single-event session has s_start == s_end —
    # with a half-open `h < s_end` test such a session lands in NO
    # bucket when it falls exactly on an hour boundary
    joined = sess.join(
        F.broadcast(grid),
        (F.col("hour_start") <= F.col("s_end"))
        & (F.col("s_start") < F.col("hour_start") + F.expr("interval 1 hour")),
    )
    return (
        joined.groupBy(F.date_format("hour_start", "yyyy-MM-dd HH:00").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n_live_sessions"))
        .orderBy("hour")
    )


ORACLE["interval_overlap_join"] = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
  FROM (
    SELECT user_id, ts,
           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS sid
    FROM marked
  ) GROUP BY user_id, sid
),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
  FROM bounds
),
hits AS (
  SELECT hour_start
  FROM sess JOIN grid
    ON hour_start <= s_end AND s_start < hour_start + INTERVAL 1 HOUR
)
SELECT strftime(hour_start, '%Y-%m-%d %H:00') AS hour,
       count(*) AS n_live_sessions
FROM hits
GROUP BY hour
ORDER BY hour
"""


def percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``: both linear
    interpolation over the sorted set)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        fround(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        fround(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        fround(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


ORACLE["percentiles"] = """
SELECT event_type,
       floor(round(quantile_cont(value, 0.5), 8) * 10000) / 10000 AS p50,
       floor(round(quantile_cont(value, 0.9), 8) * 10000) / 10000 AS p90,
       floor(round(quantile_cont(value, 0.99), 8) * 10000) / 10000 AS p99
FROM events GROUP BY event_type
"""


def grouping_sets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL API (same Catalyst plan as the
    DataFrame route — demonstrates the engine's SQL surface)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS cnt,
               floor(round(sum(l_quantity), 6) * 100) / 100 AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


ORACLE["grouping_sets"] = """
SELECT l_returnflag, l_linestatus, count(*) AS cnt,
       floor(round(sum(l_quantity), 6) * 100) / 100 AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def approx_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct sketch VALUE-CHECKED against the exact
    count. The raw estimate is engine-specific (DuckDB's HLL ≠
    Spark's), so the oracle-checkable surface is the exact count plus
    the sketch's error CONTRACT: ``within_tol`` asserts the estimate
    lands within 3× the configured rsd (0.05 → 15%) of the exact
    count, and the oracle claims ``true`` for every group. A sketch
    regression (wrong estimate, wrong rsd wiring) flips the boolean
    and fails the driver's hash compare — a real value-level check,
    unlike the former rows-only row. HLL++ is deterministic for a
    given dataset + rsd, so the boolean is stable across runs."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", rsd=0.05)
    return li.groupBy("l_returnflag").agg(
        exact.alias("exact_parts"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(0.15) * exact.cast("double")
        ).alias("within_tol"),
    )


ORACLE["approx_distinct"] = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       true AS within_tol
FROM lineitem
GROUP BY l_returnflag
"""


def approx_quantiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch quantiles VALUE-CHECKED against the exact interpolated
    percentiles, same contract shape as ``approx_distinct``: the
    oracle carries the exact values plus ``true`` for the tolerance
    booleans; the Spark side emits the sketch's actual compliance.
    At 100 TB the exact percentile is the thing you CAN'T afford (it
    materializes per-group sorted state) — the sketch is the
    production path and this row proves its error contract (measured
    max rel err 0.13% at accuracy 10k; asserted at 2%)."""
    ev = load_table(spark, sf_dir, "events")
    exact = F.expr("percentile(value, array(0.5, 0.9))")
    approx = F.percentile_approx("value", [0.5, 0.9], 10000)
    comply = F.zip_with(
        approx,
        exact,
        lambda a, e: F.abs(a - e) <= F.lit(0.02) * F.greatest(F.abs(e), F.lit(1e-9)),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            fround(exact[0], 4).alias("p50"),
            fround(exact[1], 4).alias("p90"),
            comply[0].alias("p50_within_tol"),
            comply[1].alias("p90_within_tol"),
        )
        .orderBy("event_type")
    )


ORACLE["approx_quantiles"] = f"""
SELECT event_type,
       {fround_sql("quantile_cont(value, 0.5)", 4)} AS p50,
       {fround_sql("quantile_cont(value, 0.9)", 4)} AS p90,
       true AS p50_within_tol,
       true AS p90_within_tol
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def sketch_union_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch distinct counting — the architecture that makes
    100 TB cardinality cheap: per-partition (here per-event-type)
    DataSketches HLL sketches built in one scan, then UNIONED into a
    global estimate without rescanning. The 'ALL' row's estimate comes
    only from merging the per-type sketches (user ids overlap across
    types, so a naive sum would overcount — the union dedups).
    Value-check contract as in ``approx_distinct``: exact distinct +
    sketch-within-5% boolean, both oracle-reproducible."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = lambda est, exact: (
        F.abs(est.cast("double") - exact.cast("double"))
        <= F.lit(0.05) * exact.cast("double")
    )
    per_rows = per.select(
        F.col("event_type").alias("scope"),
        "exact_users",
        tol(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias("within_tol"),
    )
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    union_row = (
        per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("ALL").alias("scope"),
            "exact_users",
            tol(F.col("est"), F.col("exact_users")).alias("within_tol"),
        )
    )
    return per_rows.unionByName(union_row).orderBy("scope")


ORACLE["sketch_union_distinct"] = """
SELECT event_type AS scope,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_tol
FROM events
GROUP BY event_type
UNION ALL
SELECT 'ALL' AS scope,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_tol
FROM events
ORDER BY scope
"""


def scalar_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function library showcase (SURVEY.md §2c: the reference
    has NO scalar functions beyond whitespace split + int parse):
    string, math, conditional, and array expressions in one pass over
    part — all JVM-side, all inside whole-stage codegen, each with an
    exact DuckDB twin."""
    p = load_table(spark, sf_dir, "part")
    toks = F.split("p_type", " ")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        fround(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        fround(F.log(F.col("p_retailprice") + 1), 6).alias("price_ln"),
        (F.col("p_size") % 7).cast("int").alias("size_mod7"),
        F.when(F.col("p_size") >= 25, "large")
        .when(F.col("p_size") >= 10, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.size(toks).cast("bigint").alias("type_words"),
        F.array_join(F.slice(toks, 1, 1), "").alias("type_first_word"),
        F.levenshtein("p_brand", "p_type").cast("int").alias("brand_type_edit"),
    )


ORACLE["scalar_functions"] = """
SELECT p_partkey,
       upper(p_brand) AS brand_u,
       substring(p_name, 1, 8) AS name_prefix,
       CAST(length(p_name) AS BIGINT) AS name_len,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       concat_ws('-', p_brand, p_type) AS brand_type,
       floor(round(sqrt(p_retailprice), 10) * 1000000) / 1000000 AS price_sqrt,
       floor(round(ln(p_retailprice + 1), 10) * 1000000) / 1000000 AS price_ln,
       CAST(p_size % 7 AS INT) AS size_mod7,
       CASE WHEN p_size >= 25 THEN 'large'
            WHEN p_size >= 10 THEN 'medium'
            ELSE 'small' END AS size_class,
       CAST(len(string_split(p_type, ' ')) AS BIGINT) AS type_words,
       string_split(p_type, ' ')[1] AS type_first_word,
       CAST(levenshtein(p_brand, p_type) AS INT) AS brand_type_edit
FROM part
"""


def udaf_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate surface: a GROUPED_AGG pandas_udf
    (Arrow-batched, one Python call per group — the vectorized form of
    the reference's ReduceFn, ``worker.rs:24``). Weighted mean of
    event values with a deterministic synthetic weight. At scale this
    is the escape hatch for aggregates Spark can't express
    algebraically; anything expressible (like this weighted mean) is
    cheaper as sum(v*w)/sum(w) — which is exactly what the oracle
    does, proving the UDAF's semantics."""
    import pandas as pd

    def _wavg(v, w):
        return float((v * w).sum() / w.sum())

    # annotations set as live objects: this module's `from __future__
    # import annotations` stringizes inline hints, which pandas_udf's
    # GROUPED_AGG inference can't resolve
    _wavg.__annotations__ = {"v": pd.Series, "w": pd.Series, "return": float}
    wavg = F.pandas_udf(_wavg, "double")

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (F.lit(1) + F.col("event_id") % 5).cast("double").alias("weight"),
    )
    return (
        ev.groupBy("event_type")
        .agg(fround(wavg("value", "weight"), 4).alias("wavg_value"))
        .orderBy("event_type")
    )


ORACLE["udaf_weighted_avg"] = """
SELECT event_type,
       floor(round(sum(value * (1 + event_id % 5)) / sum(1 + event_id % 5), 8) * 10000) / 10000
         AS wavg_value
FROM events
GROUP BY 1 ORDER BY 1
"""


def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (the one join family not yet in the registry):
    per-nation customer counts against per-nation wealthy-supplier
    counts — either side may be absent. Both inputs are pre-aggregated
    to one row per key before the join, so the outer join itself is
    |nations|-sized regardless of fact scale."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        cust.join(supp, cust["ck"] == supp["sk"], "full_outer")
        .select(
            F.coalesce("ck", "sk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


ORACLE["full_outer_join"] = """
WITH cust AS (
  SELECT c_nationkey AS ck, count(*) AS n_cust FROM customer GROUP BY 1
),
supp AS (
  SELECT s_nationkey AS sk, count(*) AS n_supp FROM supplier
  WHERE s_acctbal > 5000 GROUP BY 1
)
SELECT CAST(coalesce(ck, sk) AS INT) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM cust FULL OUTER JOIN supp ON ck = sk
ORDER BY 1
"""


_CMS_DEPTH = 4
_CMS_WIDTH = 256  # 2 hex chars of md5 → bucket 0..255


def _hexval(c):
    """Hex char (Column) → 0..15, via ascii arithmetic — portable to
    the oracle, unlike conv()/from_hex which only one engine has."""
    a = F.ascii(c)
    return F.when(a >= 97, a - 87).otherwise(a - 48)


def _cms_bucket(word, d: int):
    h = F.md5(F.concat(F.lit(f"cms{d}:"), word))
    return (
        _hexval(F.substring(h, 1, 1)) * 16 + _hexval(F.substring(h, 2, 1))
    ).cast("bigint")


def _cms_bucket_sql(expr: str, d: str) -> str:
    def hv(i: int) -> str:
        a = f"ascii(substr(md5('cms' || {d} || ':' || {expr}), {i}, 1))"
        return f"(CASE WHEN {a} >= 97 THEN {a} - 87 ELSE {a} - 48 END)"

    return f"CAST({hv(1)} * 16 + {hv(2)} AS BIGINT)"


def sketch_cms_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch heavy-hitter estimation, built ENTIRELY with
    groupBy — the sketch is just a {depth}×{width} = 4×256 cell table
    of (hash-row, bucket) counts, so 'build the sketch' is one
    aggregation over exploded words with a fixed-size key space, and
    merging shards is cell-wise addition (the mergeable-sketch
    property, same architecture as ``sketch_union_distinct``). At
    100 TB this replaces an unbounded per-word state with 1024 cells.
    The estimate for a word is min over the 4 rows of its bucket
    counts (CMS guarantees est ≥ true). Unlike the HLL/GK slugs whose
    internals are engine-specific, the md5-derived hash makes the
    WHOLE sketch bit-identical in DuckDB, so the oracle value-checks
    the actual estimates for the top-10 exact words, not just an
    error contract."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    # aggregate the token stream to (word, count) FIRST: the 4 hash
    # rows then explode over |vocab| rows instead of |tokens| rows and
    # the cell counts become sum(count) — identical sketch, ~|tokens|/
    # |vocab| less hashing (in-session warm A/B at sf0.1: 2.7 s →
    # 1.2 s). The word-count aggregation is shared with the probe
    # ranking.
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("true_cnt")).persist()
    cells = (
        counts.select(
            "true_cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"), _cms_bucket(F.col("w"), d).alias("b")
                        )
                        for d in range(_CMS_DEPTH)
                    ]
                )
            ).alias("cell"),
        )
        .groupBy(F.col("cell.d").alias("d"), F.col("cell.b").alias("b"))
        .agg(F.sum("true_cnt").alias("cnt"))
    )
    probes = counts.orderBy(F.col("true_cnt").desc(), "w").limit(10)
    probe_cells = probes.select(
        "w",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cms_bucket(F.col("w"), d).alias("b")
                    )
                    for d in range(_CMS_DEPTH)
                ]
            )
        ).alias("cell"),
    ).select("w", "true_cnt", F.col("cell.d").alias("d"), F.col("cell.b").alias("b"))
    return (
        probe_cells.join(F.broadcast(cells), ["d", "b"])
        .groupBy(F.col("w").alias("word"), "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .orderBy(F.col("true_cnt").desc(), "word")
    )


ORACLE["sketch_cms_counts"] = f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
  ) WHERE w != ''
),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT d, {_cms_bucket_sql("w", "d")} AS b, count(*) AS cnt
  FROM words, ds
  GROUP BY 1, 2
),
probes AS (
  SELECT w, count(*) AS true_cnt
  FROM words GROUP BY 1
  ORDER BY true_cnt DESC, w LIMIT 10
)
SELECT p.w AS word, p.true_cnt, CAST(min(c.cnt) AS BIGINT) AS cms_est
FROM probes p, ds
JOIN cells c ON c.d = ds.d AND c.b = {_cms_bucket_sql("p.w", "ds.d")}
GROUP BY 1, 2
ORDER BY true_cnt DESC, word
"""


_HH_K = 48  # heavy-hitter threshold: words with count >= n_tokens / K


def sketch_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed heavy hitters in two passes — the
    candidate-then-verify pattern that makes "find every word above
    n/k frequency" shuffle-bounded at 100 TB. Pass 1 counts words
    per SPARK PARTITION (map-side combine; state bounded by
    per-partition vocab) and keeps words with local count >= n_p/k:
    by a pigeonhole argument any word with GLOBAL count >= n/k must
    clear that bar in at least one partition, so the candidate set
    has no false negatives. Pass 2 re-aggregates only the
    (already tiny) per-partition counts globally and applies the
    exact n/k threshold — so the OUTPUT is exactly the true
    heavy-hitter set, independent of partitioning, even though the
    intermediate candidate set is partitioning-dependent. All
    integer arithmetic (cnt*k >= n), no float thresholds. The naive
    alternative — full global word count, then filter — shuffles the
    entire vocabulary; this shuffles per-partition survivors only.
    Oracle: plain GROUP BY + HAVING on the same threshold."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    return heavy_hitters(words, _HH_K)


def heavy_hitters(words: DataFrame, k: int) -> DataFrame:
    """Core of ``sketch_heavy_hitters`` over a 1-column ``w`` frame:
    exact {word : count >= n/k} via local-candidates + global-verify.
    The output is partitioning-INVARIANT (see the slug docstring for
    the pigeonhole argument); ``tests/test_advanced.py`` pins that by
    re-running under adversarial repartitionings."""
    local = words.groupBy(F.spark_partition_id().alias("pid"), "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pw = W.partitionBy("pid")
    cand = (
        local.withColumn("n_p", F.sum("cnt").over(pw))
        .filter(F.col("cnt") * k >= F.col("n_p"))
        .select("w")
        .distinct()
    )
    tot = local.agg(F.sum("cnt").alias("n"))
    return (
        local.groupBy("w")
        .agg(F.sum("cnt").alias("cnt"))
        .join(F.broadcast(cand), "w")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * k >= F.col("n"))
        .select(
            F.col("w").alias("word"),
            "cnt",
            F.round(F.col("cnt") / F.col("n"), 6).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "word")
    )


ORACLE["sketch_heavy_hitters"] = f"""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w FROM documents
  ) WHERE w != ''
),
tot AS (SELECT count(*) AS n FROM words)
SELECT w AS word, count(*) AS cnt,
       round(count(*) * 1.0 / any_value(n), 6) AS share
FROM words, tot
GROUP BY w
HAVING count(*) * {_HH_K} >= any_value(n)
ORDER BY cnt DESC, word
"""


UDTF_TOPK = 3


def udtf_dynamic_topwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()``): the output
    schema is computed at PLAN time from the constant argument — one
    ``top{{i}}`` column per requested rank — which a fixed-schema UDTF
    (``map_udtf``) cannot express. The function itself emits each
    document's k most frequent whitespace tokens (count desc, token
    tie-break), NULL-padded. Applied via LATERAL so the per-row
    correlation is planned as a join, not a driver loop. This is the
    engine's dynamic-schema UDF surface; the per-row Python cost is
    the point being demonstrated — wide scans should prefer the
    column-expression operators."""
    from pyspark.sql.functions import udtf

    @udtf
    class TopWords:
        @staticmethod
        def analyze(*args):
            from pyspark.sql.functions import AnalyzeResult
            from pyspark.sql.types import StringType, StructType

            k = int(args[1].value)
            schema = StructType()
            for i in range(1, k + 1):
                schema = schema.add(f"top{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, k):
            from collections import Counter

            toks = [t for t in (text or "").split() if t]
            ranked = sorted(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))
            out = [w for w, _ in ranked[: int(k)]]
            out += [None] * (int(k) - len(out))
            yield tuple(out)

    spark.udtf.register("mrs_top_words", TopWords)
    from mapreduce_rust_spark.sources.tables import register_views

    register_views(spark, sf_dir, "documents")
    cols = ", ".join(f"t.top{i}" for i in range(1, UDTF_TOPK + 1))
    return spark.sql(
        f"""
        SELECT d.doc_id, {cols}
        FROM documents d, LATERAL mrs_top_words(d.text, {UDTF_TOPK}) t
        ORDER BY d.doc_id
        """
    )


def _udtf_topwords_oracle(k: int = UDTF_TOPK) -> str:
    picks = ",\n       ".join(
        f"max(CASE WHEN rk = {i} THEN w END) AS top{i}" for i in range(1, k + 1)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS w
  FROM documents
),
c AS (SELECT doc_id, w, count(*) AS n FROM toks GROUP BY 1, 2),
r AS (
  SELECT doc_id, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, w) AS rk
  FROM c
)
SELECT doc_id, {picks}
FROM r GROUP BY doc_id ORDER BY doc_id
"""


ORACLE["udtf_dynamic_topwords"] = _udtf_topwords_oracle()


KMV_K = 16  # bottom-k sketch size


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch JACCARD between the
    token vocabularies of every source pair — "how much do these two
    crawls overlap?" answered from k-sized sketches instead of a full
    distinct-intersection join. The bottom-k sketch is the third
    mergeable-sketch family next to HLL (``sketch_union_distinct``)
    and CMS (``sketch_cms_counts``), and the only one that supports
    SET OPERATIONS: union of two sketches = bottom-k of their merged
    values, and J ≈ |bottom-k(A∪B) ∩ A's sketch ∩ B's sketch| / k.
    At 100 TB the sketch is a partial-aggregatable min-k per group
    (one scan, k·|groups| state), and every pairwise comparison after
    that touches k rows per side — the full |A|×|B| token join this
    slug also runs (as the estimator's truth column) is exactly what
    the sketch exists to avoid. Hashes are md5-derived
    (``hash64``-compatible) so both engines rank identically; est is
    matched/{k} with a power-of-two k, so the division is binary-
    exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    hashed = toks.select(
        "source", hash64(F.concat(F.lit("kmv:"), F.col("tok"))).alias("h")
    )
    rank_w = W.partitionBy("source").orderBy("h")
    sk = (
        hashed.withColumn("rk", F.row_number().over(rank_w))
        .filter(F.col("rk") <= KMV_K)
        .select("source", "h")
    )
    nsrc = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_toks"))
    pairs = (
        nsrc.select(F.col("source").alias("s1"), F.col("n_toks").alias("n1"))
        .join(
            nsrc.select(F.col("source").alias("s2"), F.col("n_toks").alias("n2")),
            F.col("s1") < F.col("s2"),
        )
    )
    inter = (
        toks.select(F.col("source").alias("s1"), "tok")
        .join(toks.select(F.col("source").alias("s2"), "tok"), "tok")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sides = (
        pairs.select("s1", "s2")
        .join(sk.withColumnRenamed("source", "s1"), "s1")
        .select("s1", "s2", "h", F.lit("a").alias("side"))
        .union(
            pairs.select("s1", "s2")
            .join(sk.withColumnRenamed("source", "s2"), "s2")
            .select("s1", "s2", "h", F.lit("b").alias("side"))
        )
    )
    merged = sides.groupBy("s1", "s2", "h").agg(
        (F.countDistinct("side") == 2).cast("int").alias("in_both")
    )
    union_w = W.partitionBy("s1", "s2").orderBy("h")
    est = (
        merged.withColumn("urk", F.row_number().over(union_w))
        .filter(F.col("urk") <= KMV_K)
        .groupBy("s1", "s2")
        .agg(
            F.sum("in_both").alias("matched"),
            F.count(F.lit(1)).alias("denom"),
        )
        .select(
            "s1",
            "s2",
            (F.col("matched") / F.col("denom").cast("double")).alias("est_jaccard"),
        )
    )
    return (
        pairs.join(est, ["s1", "s2"])
        .join(inter, ["s1", "s2"], "left")
        .select(
            "s1",
            "s2",
            fround("est_jaccard", 6).alias("est_jaccard"),
            fround(
                F.coalesce("n_inter", F.lit(0))
                / (F.col("n1") + F.col("n2") - F.coalesce("n_inter", F.lit(0))).cast(
                    "double"
                ),
                6,
            ).alias("exact_jaccard"),
        )
        .withColumn(
            "abs_err",
            fround(F.abs(F.col("est_jaccard") - F.col("exact_jaccard")), 6),
        )
        .orderBy("s1", "s2")
    )


sketch_kmv_jaccard.__doc__ = sketch_kmv_jaccard.__doc__.format(k=KMV_K)


ORACLE["sketch_kmv_jaccard"] = rf"""
WITH toks AS (
  SELECT DISTINCT source, unnest(
    list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
  FROM documents
),
hashed AS (
  SELECT source,
         {hash64_sql("'kmv:' || tok")} AS h
  FROM toks
),
sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rk
    FROM hashed
  ) t WHERE rk <= {KMV_K}
),
nsrc AS (SELECT source, count(*) AS n_toks FROM toks GROUP BY source),
pairs AS (
  SELECT a.source AS s1, a.n_toks AS n1, b.source AS s2, b.n_toks AS n2
  FROM nsrc a JOIN nsrc b ON a.source < b.source
),
inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
),
sides AS (
  SELECT p.s1, p.s2, k.h, 'a' AS side
  FROM pairs p JOIN sk k ON k.source = p.s1
  UNION
  SELECT p.s1, p.s2, k.h, 'b' AS side
  FROM pairs p JOIN sk k ON k.source = p.s2
),
merged AS (
  SELECT s1, s2, h,
         CAST(count(DISTINCT side) = 2 AS INT) AS in_both
  FROM sides GROUP BY 1, 2, 3
),
est AS (
  SELECT s1, s2, sum(in_both) / CAST(count(*) AS DOUBLE) AS est_jaccard
  FROM (
    SELECT s1, s2, h, in_both,
           row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS urk
    FROM merged
  ) t WHERE urk <= {KMV_K}
  GROUP BY 1, 2
)
SELECT p.s1, p.s2,
       {fround_sql('e.est_jaccard', 6)} AS est_jaccard,
       {fround_sql(
           'coalesce(i.n_inter, 0) / CAST(p.n1 + p.n2 - coalesce(i.n_inter, 0) AS DOUBLE)',
           6,
       )} AS exact_jaccard,
       {fround_sql(
           'abs(' + fround_sql('e.est_jaccard', 6) + ' - '
           + fround_sql(
               'coalesce(i.n_inter, 0) / CAST(p.n1 + p.n2 - coalesce(i.n_inter, 0) AS DOUBLE)',
               6,
           ) + ')',
           6,
       )} AS abs_err
FROM pairs p
JOIN est e ON e.s1 = p.s1 AND e.s2 = p.s2
LEFT JOIN inter i ON i.s1 = p.s1 AND i.s2 = p.s2
ORDER BY p.s1, p.s2
"""


SLIDING_HOURS = 6


def sketch_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW distinct users from PRE-AGGREGATED sketches —
    the pattern that makes trailing-window cardinality affordable at
    100 TB: build ONE HLL sketch per hour (a per-hour scan that never
    re-reads history), then answer "distinct users over the trailing
    {h} h" for every hour by MERGING ≤{h} sketches — versus the naive
    form that re-scans the whole trailing window per evaluation
    point. Merge is the DataSketches union (`hll_union_agg`) over a
    spine×offset self-join of the tiny hourly-sketch table. Estimate
    contract as in ``approx_distinct``/``sketch_union_distinct``:
    the oracle-checkable surface is the exact trailing distinct plus
    the within-tolerance boolean (engine sketches differ bit-wise;
    their error CONTRACT is the invariant)."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.floor(F.unix_timestamp("ts") / 3600).cast("bigint")
    hourly = ev.select(hr.alias("h"), "user_id").groupBy("h").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    offs = spark.range(SLIDING_HOURS).select(F.col("id").alias("off"))
    merged = (
        hourly.select(F.col("h").alias("h2"), "sk")
        .join(F.broadcast(offs))
        .select((F.col("h2") + F.col("off")).alias("h"), "sk", "h2")
        .join(hourly.select(F.col("h").alias("h")), "h", "left_semi")
        .groupBy("h")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    pairs = ev.select(hr.alias("h2"), "user_id").distinct()
    exact = (
        pairs.join(F.broadcast(offs))
        .select((F.col("h2") + F.col("off")).alias("h"), "user_id")
        .join(hourly.select("h"), "h", "left_semi")
        .groupBy("h")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        exact.join(merged, "h")
        .select(
            "h",
            "exact_users",
            (
                F.abs(F.col("est").cast("double") - F.col("exact_users").cast("double"))
                <= F.lit(0.15) * F.col("exact_users").cast("double")
            ).alias("within_tol"),
        )
        .orderBy("h")
    )


sketch_sliding_distinct.__doc__ = sketch_sliding_distinct.__doc__.format(
    h=SLIDING_HOURS
)


ORACLE["sketch_sliding_distinct"] = f"""
WITH pairs AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h2, user_id
  FROM events
),
hours AS (SELECT DISTINCT h2 AS h FROM pairs),
windowed AS (
  SELECT p.h2 + o.off AS h, p.user_id
  FROM pairs p
  CROSS JOIN (SELECT unnest(range(0, {SLIDING_HOURS})) AS off) o
  WHERE p.h2 + o.off IN (SELECT h FROM hours)
)
SELECT h, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       true AS within_tol
FROM windowed
GROUP BY h
ORDER BY h
"""


QUERIES = {
    "sketch_kmv_jaccard": sketch_kmv_jaccard,
    "sketch_sliding_distinct": sketch_sliding_distinct,
    "asof_join": asof_join_q,
    "udtf_dynamic_topwords": udtf_dynamic_topwords,
    "sketch_cms_counts": sketch_cms_counts_q,
    "sketch_heavy_hitters": sketch_heavy_hitters_q,
    "asof_join_nearest": asof_join_nearest,
    "interval_overlap_join": interval_overlap_join,
    "range_join": range_join_q,
    "percentiles": percentiles_q,
    "grouping_sets": grouping_sets_q,
    "approx_distinct": approx_distinct_q,
    "approx_quantiles": approx_quantiles_q,
    "sketch_union_distinct": sketch_union_distinct_q,
    "scalar_functions": scalar_functions_q,
    "udaf_weighted_avg": udaf_weighted_avg,
    "full_outer_join": full_outer_join,
}
