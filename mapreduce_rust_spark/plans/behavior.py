"""Behavioral analytics over the events stream table: cohort
retention and ordered-funnel conversion.

Both are single-fact-scan plans with integer outputs (no float
rounding concerns): retention is two aggregations over (user, week);
the funnel pivots each user's first timestamp per step into one row
and compares — no self-joins, no window over the whole fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql, single_partition
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    counted in each subsequent week they were active. weeks_since is
    exact integer arithmetic on epoch seconds (both engines truncate
    to Monday-start weeks)."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    weeks_since = (
        (F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800
    ).cast("bigint")
    return (
        active.join(first, "user_id")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            weeks_since.alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


ORACLE["cohort_retention"] = """
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST((epoch(wk) - epoch(cohort)) // 604800 AS BIGINT) AS weeks_since,
       count(*) AS active_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2
"""


def events_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-curve FIT — the model on top of ``cohort_retention``'s
    raw matrix: per weekly cohort, a closed-form log-linear OLS
    ln(r_w) = a + b·w over the observed week offsets w ≥ 1 gives the
    exponential decay rate (−b), the implied half-life ln2/(−b) (NULL
    for non-decaying cohorts), the model's predicted week-1 retention
    e^{a+b}, and R² — the three numbers a growth team quotes instead
    of a matrix, and the input every LTV projection starts from.

    Numerics: the fit runs entirely on per-cohort SUMS (Σw, Σy, Σwy,
    Σw², Σy² — one partial-combined aggregation over the bounded
    cohort×week frame), so the only transcendental is ln(r_w) itself,
    grid-snapped (fround 9) before the sums to keep cross-engine libm
    jitter out of the arithmetic; R² = b²·Sxx/Syy via the OLS identity
    (never a second residual pass), denominators floored at 1e-12 (the
    degenerate-marginals discipline). Cohorts need ≥ 2 observed
    offsets to fit.

    Scale shape: the same two aggregations as ``cohort_retention``
    (per-user first week; distinct user-weeks) feed a |cohorts×weeks|-
    bounded frame; the fit is ONE more aggregation onto the |cohorts|
    key. Nothing data-sized shuffles twice."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    size = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_users"))
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    weeks_since = (
        (F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800
    ).cast("bigint")
    ret = (
        active.join(first, "user_id")
        .groupBy("cohort", weeks_since.alias("w"))
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(size, "cohort")
        .filter(F.col("w") >= 1)
        .select(
            "cohort",
            "cohort_users",
            F.col("w").cast("double").alias("w"),
            fround(
                F.log(F.col("active_users") / F.col("cohort_users").cast("double")),
                9,
            ).alias("y"),
        )
    )
    g = ret.groupBy("cohort").agg(
        F.max("cohort_users").alias("cohort_users"),
        F.count(F.lit(1)).alias("n_points"),
        F.sum("w").alias("sw"),
        F.sum("y").alias("sy"),
        F.sum(F.col("w") * F.col("y")).alias("swy"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_points").cast("double")
    sxx = F.col("sww") - F.col("sw") * F.col("sw") / n
    syy = F.col("syy") - F.col("sy") * F.col("sy") / n
    b = (F.col("swy") - F.col("sw") * F.col("sy") / n) / F.greatest(
        sxx, F.lit(1e-12)
    )
    a = (F.col("sy") - b * F.col("sw")) / n
    return (
        g.filter(F.col("n_points") >= 2)
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "cohort_users",
            "n_points",
            fround(-b, 6).alias("decay_rate"),
            fround(
                F.when(b < 0, F.log(F.lit(2.0)) / (-b)),
                4,
            ).alias("half_life_weeks"),
            fround(F.exp(a + b), 6).alias("pred_week1_retention"),
            fround(b * b * sxx / F.greatest(syy, F.lit(1e-12)), 6).alias("r2"),
        )
        .orderBy("cohort_week")
    )


def _retention_fit_oracle() -> str:
    n = "CAST(n_points AS DOUBLE)"
    sxx = f"(sww - sw * sw / {n})"
    syy_c = f"(syy - sy * sy / {n})"
    b = f"((swy - sw * sy / {n}) / greatest({sxx}, 1e-12))"
    a = f"((sy - {b} * sw) / {n})"
    return f"""
WITH first AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY 1
),
sz AS (SELECT cohort, count(*) AS cohort_users FROM first GROUP BY 1),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
ret AS (
  SELECT r.cohort, sz.cohort_users,
         CAST(r.w AS DOUBLE) AS w,
         {fround_sql("ln(r.active_users / CAST(sz.cohort_users AS DOUBLE))", 9)}
           AS y
  FROM (
    SELECT f.cohort,
           CAST((epoch(a.wk) - epoch(f.cohort)) // 604800 AS BIGINT) AS w,
           count(*) AS active_users
    FROM active a JOIN first f USING (user_id)
    GROUP BY 1, 2
  ) r JOIN sz USING (cohort)
  WHERE r.w >= 1
),
g AS (
  SELECT cohort, max(cohort_users) AS cohort_users,
         count(*) AS n_points,
         sum(w) AS sw, sum(y) AS sy, sum(w * y) AS swy,
         sum(w * w) AS sww, sum(y * y) AS syy
  FROM ret GROUP BY 1
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(cohort_users AS BIGINT) AS cohort_users,
       CAST(n_points AS BIGINT) AS n_points,
       {fround_sql(f"-{b}", 6)} AS decay_rate,
       {fround_sql(f"CASE WHEN {b} < 0 THEN ln(2.0) / (-{b}) END", 4)}
         AS half_life_weeks,
       {fround_sql(f"exp({a} + {b})", 6)} AS pred_week1_retention,
       {fround_sql(f"{b} * {b} * {sxx} / greatest({syy_c}, 1e-12)", 6)} AS r2
FROM g WHERE n_points >= 2
ORDER BY cohort_week
"""


ORACLE["events_retention_decay_fit"] = _retention_fit_oracle()


_FUNNEL = ["view", "click", "purchase"]


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase: a user converts at step k
    when their FIRST occurrence of each step happens in order. One
    pivot of min-ts per step per user (single shuffle), then integer
    comparisons — never an n-way self-join of the fact."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.unix_micros("ts"))).alias(
                f"t_{s}"
            )
            for s in _FUNNEL
        ]
    )
    step1 = F.col("t_view").isNotNull()
    step2 = step1 & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    step3 = (
        step2 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_click"))
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(step1.cast("bigint")).alias("reached_view"),
        F.sum(step2.cast("bigint")).alias("converted_click"),
        F.sum(step3.cast("bigint")).alias("converted_purchase"),
    )


ORACLE["funnel_conversion"] = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
  FROM events GROUP BY 1
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                 AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS converted_click,
       CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                 AND t_click > t_view AND t_purchase IS NOT NULL
                 AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS converted_purchase
FROM per_user
"""

def event_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step event-type paths: each user's timeline (ordered by
    ts, event_id) is slid over with two leads to form consecutive
    type trigrams, counted globally — the "what do users do next"
    navigation-mining shape. One window shuffle on user_id (high
    cardinality), then a path-keyed aggregation whose key space is
    |types|³ — tiny at any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    steps = ev.select(
        path.alias("path"), F.lead("event_type", 2).over(w).alias("_l2")
    ).filter(F.col("_l2").isNotNull())
    return (
        steps.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


ORACLE["event_path_analysis"] = """
WITH steps AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER w
                    || '>' || lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w AS l2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path, count(*) AS n
FROM steps WHERE l2 IS NOT NULL
GROUP BY path
ORDER BY n DESC, path
LIMIT 10
"""


def scd2_compress_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style state history: compress each user's event timeline
    into runs of consecutive identical event types with validity
    bounds — the gaps-and-islands pattern that builds a type-2
    slowly-changing dimension from a change stream. Island id is the
    classic difference of two row_numbers (global-per-user minus
    per-(user,type)), so one window shuffle on user_id (high
    cardinality, even spread) covers both numbering passes; the run
    rollup reuses the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = ev.select(
        "user_id",
        "event_type",
        "ts",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias("island"),
    )
    return (
        runs.groupBy("user_id", "event_type", "island")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("island")
    )


ORACLE["scd2_compress_states"] = """
WITH runs AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS island
  FROM events
)
SELECT user_id, event_type,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS valid_to,
       count(*) AS n_events
FROM runs
GROUP BY user_id, event_type, island
"""


def time_in_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration attribution: the time between consecutive events is
    credited to the EARLIER event's type ("the user was in that state
    until the next thing happened") — the engagement-time primitive
    behind session-depth and feature-usage reports. One lead() window
    per user (high-cardinality partitioning), then a tiny per-type
    rollup; gaps > 30 min are capped as session breaks so idle time
    does not inflate a state."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lead("ts").over(w).cast("double") - F.col("ts").cast("double")
    capped = F.when(gap > 1800, F.lit(1800.0)).otherwise(gap)
    per_event = ev.select("event_type", capped.alias("dur"))
    return (
        per_event.filter(F.col("dur").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            fround(F.sum("dur"), 2).alias("total_sec"),
            fround(F.avg("dur"), 4).alias("avg_sec"),
        )
        .orderBy("event_type")
    )


ORACLE["time_in_state"] = f"""
WITH raw AS (
  SELECT event_type,
         epoch(lead(ts) OVER w) - epoch(ts) AS g
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gaps AS (
  -- NOT least(): DuckDB's least() SKIPS nulls, which would turn every
  -- user's terminal event into a phantom 1800 s interval
  SELECT event_type,
         CASE WHEN g IS NULL THEN NULL
              WHEN g > 1800 THEN 1800.0 ELSE g END AS dur
  FROM raw
)
SELECT event_type, count(*) AS n_intervals,
       {fround_sql("sum(dur)", 2)} AS total_sec,
       {fround_sql("avg(dur)", 4)} AS avg_sec
FROM gaps WHERE dur IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user behavior: P(next event type |
    current event type), estimated from every consecutive pair in each
    user's timeline. One lead() window shuffled on user_id (high
    cardinality), then a groupBy whose key space is |types|² — the
    transition matrix stays tiny at any corpus scale, so the row-level
    normalization window runs over ≤25 rows. This is the
    "what-happens-next" model behind session simulators and
    next-action predictors."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_from = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        fround(F.col("n") / F.sum("n").over(w_from), 6).alias("p"),
    ).orderBy("from_type", "to_type")


ORACLE["markov_transitions"] = f"""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       {fround_sql("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)", 6)}
         AS p
FROM counts
ORDER BY from_type, to_type
"""


def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded funnel: view → click within 30 min → purchase
    within 30 min of that click. Unlike ``funnel_conversion`` (whose
    steps may be hours apart), each step must land inside the window,
    so the stages resolve sequentially: first view per user, then the
    first qualifying click per user (one semi-aggregated join of the
    click slice against the per-user view frame), then the first
    qualifying purchase. Each stage joins the NEXT event slice against
    a per-user single-row frame on user_id — two hash joins on a
    high-cardinality key, never an n-way self-join of the fact."""
    ev = load_table(spark, sf_dir, "events")
    lim = 1800  # 30 min, seconds
    t = F.unix_timestamp("ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(t).alias("t_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", t.alias("tc"))
        .join(views, "user_id")
        .filter((F.col("tc") > F.col("t_view")) & (F.col("tc") <= F.col("t_view") + lim))
        .groupBy("user_id")
        .agg(F.min("tc").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", t.alias("tp"))
        .join(clicks, "user_id")
        .filter(
            (F.col("tp") > F.col("t_click")) & (F.col("tp") <= F.col("t_click") + lim)
        )
        .groupBy("user_id")
        .agg(F.min("tp").alias("t_purchase"))
    )
    return (
        views.agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("1_view").alias("step"), "n")
        .unionByName(
            clicks.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("2_click_30m").alias("step"), "n"
            )
        )
        .unionByName(
            purchases.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("3_purchase_30m").alias("step"), "n"
            )
        )
        .orderBy("step")
    )


ORACLE["funnel_time_bounded"] = """
WITH ev AS (
  -- floor to whole seconds: Spark's unix_timestamp truncates micros,
  -- DuckDB's epoch() keeps them — boundary comparisons must agree
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events
),
views AS (
  SELECT user_id, min(t) AS t_view
  FROM ev WHERE event_type = 'view' GROUP BY 1
),
clicks AS (
  SELECT e.user_id, min(e.t) AS t_click
  FROM ev e JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND e.t > v.t_view AND e.t <= v.t_view + 1800
  GROUP BY 1
),
purchases AS (
  SELECT e.user_id, min(e.t) AS t_purchase
  FROM ev e JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.t > c.t_click AND e.t <= c.t_click + 1800
  GROUP BY 1
)
SELECT '1_view' AS step, count(*) AS n FROM views
UNION ALL
SELECT '2_click_30m', count(*) FROM clicks
UNION ALL
SELECT '3_purchase_30m', count(*) FROM purchases
ORDER BY step
"""


def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into two deterministic arms
    (user_id parity stands in for the assignment hash), Welch's
    unequal-variance t statistic on event value per event type — the
    report every experimentation pipeline materializes. Closed-form
    two-group statistics: ONE aggregation over (type, arm), then the
    5-row arithmetic — no per-user collection, no resampling; at
    100 TB this is a single partial-aggregated shuffle on a 2×|types|
    key. (p-values need the t CDF — not SQL-expressible — so the
    statistic and Welch degrees of freedom are reported; thresholding
    |t| is how the gate consumes it anyway.)"""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.col("value"),
    )
    g = arms.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = g.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("m").alias("m0"),
        F.col("v").alias("v0"),
    )
    b = g.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("m").alias("m1"),
        F.col("v").alias("v1"),
    )
    se2 = F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")
    welch_df = (se2 * se2) / (
        (F.col("v0") / F.col("n0")) * (F.col("v0") / F.col("n0"))
        / (F.col("n0") - 1)
        + (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1"))
        / (F.col("n1") - 1)
    )
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            "n0",
            "n1",
            fround(F.col("m0") - F.col("m1"), 4).alias("mean_diff"),
            fround((F.col("m0") - F.col("m1")) / F.sqrt(se2), 4).alias("t_stat"),
            fround(welch_df, 2).alias("welch_df"),
        )
        .orderBy("event_type")
    )


ORACLE["ab_welch_ttest"] = f"""
WITH g AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
         count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT a.event_type, a.n AS n0, b.n AS n1, a.m AS m0, b.m AS m1,
         a.v AS v0, b.v AS v1,
         a.v / a.n + b.v / b.n AS se2
  FROM g a JOIN g b ON a.event_type = b.event_type
  WHERE a.arm = 0 AND b.arm = 1
)
SELECT event_type, n0, n1,
       {fround_sql("m0 - m1", 4)} AS mean_diff,
       {fround_sql("(m0 - m1) / sqrt(se2)", 4)} AS t_stat,
       {fround_sql("(se2 * se2) / ((v0/n0)*(v0/n0)/(n0-1) + (v1/n1)*(v1/n1)/(n1-1))", 2)} AS welch_df
FROM j ORDER BY event_type
"""


# Abramowitz & Stegun 7.1.26 erf approximation — the classic rational
# polynomial (|ε| < 1.5e-7, far below the 4-decimal output rounding),
# spelled as identical explicit arithmetic on BOTH engines so the
# value-hash contract holds without either engine needing an erf
# builtin.
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def _phi(z):
    """Standard normal CDF Φ(z) for a Spark Column, via A&S erf."""
    x = F.abs(z) / F.lit(2.0 ** 0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * x)
    poly = (
        F.lit(_ERF_A[0]) * t
        + F.lit(_ERF_A[1]) * t * t
        + F.lit(_ERF_A[2]) * t * t * t
        + F.lit(_ERF_A[3]) * t * t * t * t
        + F.lit(_ERF_A[4]) * t * t * t * t * t
    )
    erf_abs = F.lit(1.0) - poly * F.exp(-x * x)
    erf = F.when(z < 0, -erf_abs).otherwise(erf_abs)
    return F.lit(0.5) * (F.lit(1.0) + erf)


def _phi_sql(z: str) -> str:
    """DuckDB twin of :func:`_phi` — same constants, same ops."""
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_ERF_P} * {x}))"
    poly = (
        f"({_ERF_A[0]} * {t} + {_ERF_A[1]} * {t}*{t}"
        f" + {_ERF_A[2]} * {t}*{t}*{t}"
        f" + {_ERF_A[3]} * {t}*{t}*{t}*{t}"
        f" + {_ERF_A[4]} * {t}*{t}*{t}*{t}*{t})"
    )
    erf_abs = f"(1.0 - {poly} * exp(-({x}) * ({x})))"
    erf = f"(CASE WHEN ({z}) < 0 THEN -{erf_abs} ELSE {erf_abs} END)"
    return f"(0.5 * (1.0 + {erf}))"


def ab_bayesian_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B readout: users split 50/50 by content hash
    (md5 — deterministic, re-run-stable, unlike user_id parity which
    correlates with signup order), per-arm conversion = "user emitted
    ≥1 event of this type", Beta(1,1) prior → Beta(1+c, 1+n−c)
    posterior per arm, and P(p_B > p_A) under the normal
    approximation of the posterior difference — the decision
    probability dashboards actually show, vs the frequentist t of
    ``ab_welch_ttest``. All closed-form: two hash aggregations
    (distinct users per arm: 2 rows; distinct converted users per
    (type, arm): 2×|types| rows) and row arithmetic — no resampling,
    no per-user state; at 100 TB both aggs partial-combine and the
    final math runs on a |types|-row frame. Φ via the A&S 7.1.26 erf
    polynomial, identical arithmetic in the DuckDB oracle."""
    ev = load_table(spark, sf_dir, "events")
    arm = (F.md5(F.col("user_id").cast("string")) < "8").cast("int")
    users = (
        ev.select("user_id").distinct()
        .select(arm.alias("arm"))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    conv = (
        ev.select("event_type", "user_id").distinct()
        .select("event_type", arm.alias("arm"))
        .groupBy("event_type", "arm")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # conditional-aggregation pivot: ONE pass over the (type, arm)
    # frame — the filter-then-self-join spelling recomputes BOTH
    # upstream distincts once per branch (measured 3.2 s vs 1.2 s
    # warm at sf0.1 for the identical result)
    ab = (
        conv.join(F.broadcast(users), "arm")
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("ca"),
            F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("na"),
            F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("cb"),
            F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("nb"),
        )
    )
    # Beta(1+c, 1+n−c) posterior moments
    ma = (F.col("ca") + 1.0) / (F.col("na") + 2.0)
    mb = (F.col("cb") + 1.0) / (F.col("nb") + 2.0)
    va = ma * (1.0 - ma) / (F.col("na") + 3.0)
    vb = mb * (1.0 - mb) / (F.col("nb") + 3.0)
    z = (mb - ma) / F.sqrt(va + vb)
    return (
        ab.select(
            "event_type",
            "na",
            "ca",
            "nb",
            "cb",
            fround(ma, 4).alias("post_mean_a"),
            fround(mb, 4).alias("post_mean_b"),
            fround(mb - ma, 4).alias("lift"),
            fround(_phi(z), 4).alias("p_b_beats_a"),
        )
        .orderBy("event_type")
    )


_AB_MA = "((ca + 1.0) / (na + 2.0))"
_AB_MB = "((cb + 1.0) / (nb + 2.0))"
_AB_Z = (
    f"(({_AB_MB} - {_AB_MA}) / sqrt("
    f"{_AB_MA} * (1.0 - {_AB_MA}) / (na + 3.0)"
    f" + {_AB_MB} * (1.0 - {_AB_MB}) / (nb + 3.0)))"
)

ORACLE["ab_bayesian_beta"] = f"""
WITH u AS (
  SELECT CAST(md5(CAST(user_id AS VARCHAR)) < '8' AS INT) AS arm,
         count(*) AS n
  FROM (SELECT DISTINCT user_id FROM events) GROUP BY 1
),
conv AS (
  SELECT event_type,
         CAST(md5(CAST(user_id AS VARCHAR)) < '8' AS INT) AS arm,
         count(*) AS c
  FROM (SELECT DISTINCT event_type, user_id FROM events) GROUP BY 1, 2
),
j AS (SELECT conv.event_type, conv.arm, conv.c, u.n
      FROM conv JOIN u ON u.arm = conv.arm),
-- conditional-aggregation pivot, mirroring the Spark side: a type
-- whose conversions appear in only ONE arm keeps its row (NULL
-- ca/na or cb/nb) instead of being dropped by an inner self-join
w AS (
  SELECT event_type,
         max(CASE WHEN arm = 1 THEN c END) AS ca,
         max(CASE WHEN arm = 1 THEN n END) AS na,
         max(CASE WHEN arm = 0 THEN c END) AS cb,
         max(CASE WHEN arm = 0 THEN n END) AS nb
  FROM j GROUP BY event_type
)
SELECT event_type, na, ca, nb, cb,
       {fround_sql(_AB_MA, 4)} AS post_mean_a,
       {fround_sql(_AB_MB, 4)} AS post_mean_b,
       {fround_sql(f"{_AB_MB} - {_AB_MA}", 4)} AS lift,
       {fround_sql(_phi_sql(_AB_Z), 4)} AS p_b_beats_a
FROM w ORDER BY event_type
"""


_ATTR_LOOKBACK_S = 24 * 3600  # attribution lookback window (seconds)


def event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution: every ``purchase`` is a
    conversion; the user's ``view``/``click`` touches in the 24 h
    before it share the credit under three standard models at once —
    first-touch (1.0 to the earliest touch), last-touch (1.0 to the
    latest), and linear (1/n to each). One equi-join on user_id with
    a bounded time-range predicate — the lookback cap is what keeps
    the join linear at 100 TB (each conversion matches a bounded
    window of touches, never the user's full history); credit
    assignment is two row_number windows partitioned per conversion,
    so nothing shuffles more than (user, conversion)-sized keys.
    Ties on touch timestamp break on event_id: total order, identical
    in both engines."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("touch_ts"),
    )
    joined = conv.join(touch, "user_id").filter(
        (F.col("touch_ts") <= F.col("conv_ts"))
        & (
            F.unix_timestamp("touch_ts")
            > F.unix_timestamp("conv_ts") - _ATTR_LOOKBACK_S
        )
    )
    wc = W.partitionBy("conv_id")
    asc = wc.orderBy("touch_ts", "touch_id")
    desc = wc.orderBy(F.col("touch_ts").desc(), F.col("touch_id").desc())
    credited = joined.select(
        "conv_id",
        "channel",
        (F.row_number().over(asc) == 1).cast("int").alias("is_first"),
        (F.row_number().over(desc) == 1).cast("int").alias("is_last"),
        (F.lit(1.0) / F.count(F.lit(1)).over(wc)).alias("linear"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.sum("is_first").alias("first_touch"),
            F.sum("is_last").alias("last_touch"),
            fround(F.sum("linear"), 4).alias("linear_credit"),
            F.count(F.lit(1)).alias("n_touches"),
        )
        .orderBy("channel")
    )


ORACLE["event_attribution"] = f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT event_id AS touch_id, user_id, event_type AS channel, ts AS touch_ts
  FROM events WHERE event_type IN ('view', 'click')
),
joined AS (
  SELECT conv_id, channel, touch_ts, touch_id
  FROM conv JOIN touch USING (user_id)
  WHERE touch_ts <= conv_ts
    AND epoch(touch_ts) > epoch(conv_ts) - {_ATTR_LOOKBACK_S}
),
credited AS (
  SELECT conv_id, channel,
         CAST(row_number() OVER (PARTITION BY conv_id
              ORDER BY touch_ts, touch_id) = 1 AS INT) AS is_first,
         CAST(row_number() OVER (PARTITION BY conv_id
              ORDER BY touch_ts DESC, touch_id DESC) = 1 AS INT) AS is_last,
         CAST(1.0 AS DOUBLE) / (count(*) OVER (PARTITION BY conv_id)) AS linear
  FROM joined
)
SELECT channel,
       CAST(sum(is_first) AS BIGINT) AS first_touch,
       CAST(sum(is_last) AS BIGINT) AS last_touch,
       {fround_sql("sum(linear)", 4)} AS linear_credit,
       count(*) AS n_touches
FROM credited
GROUP BY 1
ORDER BY 1
"""


def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily NEW vs CUMULATIVE distinct users — computed the O(n)
    way: a running count-distinct window is quadratic (every day
    re-deduplicates all history), but "cumulative uniques at day d =
    Σ users first seen ≤ d" needs only each user's FIRST-SEEN day
    (one partial-aggregatable min per user), a per-day count, and a
    running sum over the tiny day spine. This first-occurrence
    reduction is the standard rewrite for every
    cumulative-cardinality metric (signups, first purchases,
    vocabulary growth) at any scale. A left join back to the spine of
    ACTIVE days keeps days with zero new users in the report (their
    new_users = 0, cumulative flat)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    first_seen = (
        ev.select("user_id", day.alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("first_d"))
        .groupBy(F.col("first_d").alias("d"))
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    spine = ev.select(day.alias("d")).distinct()
    # single_partition: frame is the bounded calendar-day list
    joined, w0 = single_partition(
        spine.join(first_seen, "d", "left").select(
            "d", F.coalesce("new_users", F.lit(0)).alias("new_users")
        ),
        by=["d"],
    )
    w = w0.rowsBetween(W.unboundedPreceding, 0)
    return (
        joined
        .withColumn(
            "cumulative_users", F.sum("new_users").over(w).cast("bigint")
        )
        .orderBy("d")
    )


ORACLE["events_cumulative_uniques"] = """
WITH fs AS (
  SELECT user_id, min(strftime(ts, '%Y-%m-%d')) AS d
  FROM events GROUP BY 1
),
new_by_day AS (SELECT d, count(*) AS new_users FROM fs GROUP BY 1),
spine AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d FROM events)
SELECT s.d, CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(n.new_users, 0))
              OVER (ORDER BY s.d ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM spine s LEFT JOIN new_by_day n USING (d)
ORDER BY s.d
"""


def funnel_negative_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEGATIVE-pattern funnel: view → purchase with NO error in
    between — the "clean conversion" question positive-step funnels
    can't ask (did the user get through WITHOUT hitting the failure
    state?). Per user: anchor = first view, conversion = first
    purchase after it, blocked iff the first post-anchor error
    precedes that purchase. Census over the four outcomes (no view /
    no purchase after view / blocked by error / converted clean).
    Two partial-aggregatable per-user reductions (anchor pass, then
    post-anchor min-per-type pass) and key-sized joins — no
    sequence explode, no per-user sort; the MATCH_RECOGNIZE-style
    pattern reduced to min/compare algebra."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    anchors = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ta"))
    )
    allu = ev.select("user_id").distinct()
    after = ev.join(anchors, "user_id").filter(F.col("ts") > F.col("ta"))
    outcomes = after.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("tc"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("te"),
    )
    status = (
        F.when(F.col("ta").isNull(), "no_view")
        .when(F.col("tc").isNull(), "no_purchase_after_view")
        .when(
            F.col("te").isNotNull() & (F.col("te") < F.col("tc")),
            "blocked_by_error",
        )
        .otherwise("converted_clean")
    )
    return (
        allu.join(anchors, "user_id", "left")
        .join(outcomes, "user_id", "left")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("status")
    )


ORACLE["funnel_negative_pattern"] = """
WITH anchors AS (
  SELECT user_id, min(ts) AS ta FROM events
  WHERE event_type = 'view' GROUP BY 1
),
allu AS (SELECT DISTINCT user_id FROM events),
outcomes AS (
  SELECT e.user_id,
         min(CASE WHEN e.event_type = 'purchase' THEN e.ts END) AS tc,
         min(CASE WHEN e.event_type = 'error' THEN e.ts END) AS te
  FROM events e JOIN anchors a USING (user_id)
  WHERE e.ts > a.ta
  GROUP BY 1
)
SELECT CASE WHEN a.ta IS NULL THEN 'no_view'
            WHEN o.tc IS NULL THEN 'no_purchase_after_view'
            WHEN o.te IS NOT NULL AND o.te < o.tc THEN 'blocked_by_error'
            ELSE 'converted_clean' END AS status,
       count(*) AS n_users
FROM allu u
LEFT JOIN anchors a USING (user_id)
LEFT JOIN outcomes o USING (user_id)
GROUP BY 1 ORDER BY 1
"""


def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU — the rolling-active-user triple every product
    dashboard leads with, computed EXACTLY: deduplicate to (user, day)
    once (the only event-volume-sized stage, one shuffle), then join
    the tiny day spine against trailing 7- and 30-day windows of that
    pair set. The trailing join fans each user-day into ≤7 (resp.
    ≤30 capped by spine length) spine rows — bounded blowup of the
    already-aggregated pair set, the standard exact form; the
    approximate form at extreme scale is the hourly-HLL slide
    (``sketch_sliding_distinct``), which this slug anchors."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = ud.select("day").distinct().select(F.col("day").alias("spine"))
    j = ud.join(
        F.broadcast(days),
        (F.col("day") <= F.col("spine"))
        & (F.col("day") > F.date_sub(F.col("spine"), 30)),
    )
    return (
        j.groupBy("spine")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("spine"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(
                    F.col("day") > F.date_sub(F.col("spine"), 7), F.col("user_id")
                )
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .select(
            F.date_format("spine", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
        )
        .orderBy("day")
    )


ORACLE["events_dau_wau_mau"] = """
WITH ud AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
spine AS (SELECT DISTINCT day AS s FROM ud)
SELECT strftime(s, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT CASE WHEN ud.day = s THEN user_id END) AS BIGINT)
         AS dau,
       CAST(count(DISTINCT CASE WHEN ud.day > s - INTERVAL 7 DAY
                                THEN user_id END) AS BIGINT) AS wau,
       CAST(count(DISTINCT user_id) AS BIGINT) AS mau
FROM ud JOIN spine ON ud.day <= s AND ud.day > s - INTERVAL 30 DAY
GROUP BY s ORDER BY 1
"""


def ab_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit — the guardrail that runs BEFORE
    any A/B readout (``ab_welch_ttest``): if the observed arm split
    deviates from the designed 50/50, the assignment pipeline is
    broken and every downstream metric is invalid. Per event type:
    per-arm user counts, the one-degree-of-freedom chi-square
    statistic against 50/50, and the alarm flag at the conventional
    χ² > 3.841 (p < 0.05) bar. Distinct users per (type, arm) is one
    aggregation; the chi-square is closed-form row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.select("event_type", (F.col("user_id") % 2).cast("int").alias("arm"), "user_id")
        .groupBy("event_type")
        .agg(
            F.countDistinct(
                F.when(F.col("arm") == 0, F.col("user_id"))
            ).alias("n0"),
            F.countDistinct(
                F.when(F.col("arm") == 1, F.col("user_id"))
            ).alias("n1"),
        )
    )
    exp = (F.col("n0") + F.col("n1")).cast("double") / 2
    chi2 = (
        (F.col("n0") - exp) * (F.col("n0") - exp) / exp
        + (F.col("n1") - exp) * (F.col("n1") - exp) / exp
    )
    return g.select(
        "event_type",
        "n0",
        "n1",
        fround(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_alarm"),
    ).orderBy("event_type")


ORACLE["ab_srm_audit"] = f"""
WITH g AS (
  SELECT event_type,
         CAST(count(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END)
              AS BIGINT) AS n0,
         CAST(count(DISTINCT CASE WHEN user_id % 2 = 1 THEN user_id END)
              AS BIGINT) AS n1
  FROM events GROUP BY 1
)
SELECT event_type, n0, n1,
       {fround_sql(
           "(n0 - (n0 + n1) / CAST(2 AS DOUBLE))"
           " * (n0 - (n0 + n1) / CAST(2 AS DOUBLE))"
           " / ((n0 + n1) / CAST(2 AS DOUBLE))"
           " + (n1 - (n0 + n1) / CAST(2 AS DOUBLE))"
           " * (n1 - (n0 + n1) / CAST(2 AS DOUBLE))"
           " / ((n0 + n1) / CAST(2 AS DOUBLE))", 6
       )} AS chi2,
       ((n0 - (n0 + n1) / CAST(2 AS DOUBLE))
        * (n0 - (n0 + n1) / CAST(2 AS DOUBLE))
        / ((n0 + n1) / CAST(2 AS DOUBLE))
        + (n1 - (n0 + n1) / CAST(2 AS DOUBLE))
        * (n1 - (n0 + n1) / CAST(2 AS DOUBLE))
        / ((n0 + n1) / CAST(2 AS DOUBLE))) > 3.841 AS srm_alarm
FROM g ORDER BY event_type
"""


def ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data)
    variance reduction — the standard trick that makes A/B tests
    converge weeks faster: adjust each user's experiment-period
    metric by their PRE-period metric, Y' = Y − θ(X − E[X]) with
    θ = cov(X,Y)/var(X) pooled across arms, then report per-arm means
    and the variance-reduction percentage. Pre/post split is the
    midpoint of the observed time range (deterministic from data);
    arm is the user-id parity hash as in ab_welch_ttest. Plan shape:
    ONE events scan with conditional sums into a per-user (pre, post)
    row — the only data-sized shuffle — then covariance/variance are
    closed-form aggregates and θ/E[X] come back as a broadcast
    one-row frame. At 100 TB this is a single user-keyed partial agg;
    nothing iterates and nothing collects."""
    ev = load_table(spark, sf_dir, "events")
    # explicit floor on both engines: Spark's bigint cast truncates
    # (7/2 -> 3) while DuckDB's CAST rounds (7/2 -> 4), so an odd
    # epoch sum would split pre/post one second apart between engines
    bounds = ev.agg(
        F.floor(
            (F.unix_timestamp(F.min("ts")) + F.unix_timestamp(F.max("ts"))) / 2
        )
        .cast("bigint")
        .alias("mid")
    )
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_timestamp("ts") < F.col("mid"), F.col("value"))
                .otherwise(F.lit(0.0))
            ).alias("pre"),
            F.sum(
                F.when(F.unix_timestamp("ts") >= F.col("mid"), F.col("value"))
                .otherwise(F.lit(0.0))
            ).alias("post"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("arm"), "pre", "post"
        )
    )
    theta = per_user.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.avg("pre").alias("mean_pre"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "arm",
        "post",
        (
            F.col("post")
            - F.col("theta") * (F.col("pre") - F.col("mean_pre"))
        ).alias("adj"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            fround(F.avg("post"), 4).alias("mean_post"),
            fround(F.avg("adj"), 4).alias("mean_cuped"),
            fround(F.var_samp("post"), 4).alias("var_post"),
            fround(F.var_samp("adj"), 4).alias("var_cuped"),
            fround(
                (F.lit(100.0))
                * (F.lit(1.0) - F.var_samp("adj") / F.var_samp("post")),
                2,
            ).alias("var_reduction_pct"),
        )
        .orderBy("arm")
    )


ORACLE["ab_cuped"] = f"""
WITH bounds AS (
  SELECT CAST(floor((epoch(min(ts)) + epoch(max(ts))) / 2) AS BIGINT) AS mid
  FROM events
),
per_user AS (
  SELECT CAST(user_id % 2 AS INT) AS arm,
         sum(CASE WHEN epoch(ts) < b.mid THEN value ELSE 0.0 END) AS pre,
         sum(CASE WHEN epoch(ts) >= b.mid THEN value ELSE 0.0 END) AS post
  FROM events CROSS JOIN bounds b
  GROUP BY user_id
),
theta AS (
  SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
         avg(pre) AS mean_pre
  FROM per_user
),
adj AS (
  SELECT arm, post,
         post - t.theta * (pre - t.mean_pre) AS adj
  FROM per_user CROSS JOIN theta t
)
SELECT arm,
       count(*) AS n_users,
       {fround_sql("avg(post)", 4)} AS mean_post,
       {fround_sql("avg(adj)", 4)} AS mean_cuped,
       {fround_sql("var_samp(post)", 4)} AS var_post,
       {fround_sql("var_samp(adj)", 4)} AS var_cuped,
       {fround_sql("100.0 * (1.0 - var_samp(adj) / var_samp(post))", 2)} AS var_reduction_pct
FROM adj GROUP BY arm ORDER BY arm
"""


BOOT_REPS = 32  # bootstrap replicas


def _poisson1_from_u(u):
    """Poisson(1) via inverse-CDF on a uniform draw — the cumulative
    thresholds are exp(-1)·Σ 1/k!, spelled as the same double
    expressions on both engines so the sampled weights agree bit-for-
    bit. P(K > 8) < 1e-6; the tail clamps to 9."""
    e = 2.718281828459045
    cum, acc, fact = [], 0.0, 1.0
    for k in range(9):
        if k > 0:
            fact *= k
        acc += (1.0 / e) / fact
        cum.append(acc)
    expr = F.lit(9)
    for k in reversed(range(9)):
        expr = F.when(u < F.lit(cum[k]), F.lit(k)).otherwise(expr)
    return expr


def _poisson1_sql(u: str) -> str:
    e = 2.718281828459045
    cum, acc, fact = [], 0.0, 1.0
    for k in range(9):
        if k > 0:
            fact *= k
        acc += (1.0 / e) / fact
        cum.append(acc)
    sql = "9"
    for k in reversed(range(9)):
        sql = f"CASE WHEN {u} < {cum[k]!r} THEN {k} ELSE {sql} END"
    return sql


def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012) — THE way to
    bootstrap at terabyte scale: instead of resampling n rows B times
    (impossible distributed), each unit gets an independent
    Poisson(1) weight per replica, generated INLINE from a hash —
    no stored resamples, no driver randomness, fully deterministic
    and re-runnable. Metric: mean per-user total event value; output:
    point estimate, bootstrap SE, and a 95 % percentile CI over
    {BOOT_REPS} replicas. Plan: per-user totals are the one
    data-sized shuffle; the ×{BOOT_REPS} explode happens on the
    USER-level frame (not raw events); replica means are one bounded
    agg. The md5-derived uniform and the inverse-CDF thresholds are
    identical expressions on both engines."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.sum("value").alias("x"))
    reps = per_user.select(
        "user_id",
        "x",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_REPS - 1))
        ).alias("rep"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col("user_id"), F.col("rep"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**52))
    )
    weighted = reps.select(
        "rep", "x", _poisson1_from_u(u).cast("double").alias("w")
    )
    rep_means = weighted.groupBy("rep").agg(
        (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("m")
    )
    point = per_user.agg(F.avg("x").alias("est"))
    return (
        rep_means.agg(
            F.count(F.lit(1)).alias("n_reps"),
            F.stddev_samp("m").alias("boot_se"),
            F.expr("percentile(m, 0.025)").alias("lo"),
            F.expr("percentile(m, 0.975)").alias("hi"),
        )
        .crossJoin(F.broadcast(point))
        .select(
            "n_reps",
            fround("est", 4).alias("point_est"),
            fround("boot_se", 4).alias("boot_se"),
            fround("lo", 4).alias("ci_lo"),
            fround("hi", 4).alias("ci_hi"),
        )
    )


ORACLE["sample_poisson_bootstrap"] = f"""
WITH per_user AS (
  SELECT user_id, sum(value) AS x FROM events GROUP BY 1
),
reps AS (
  SELECT user_id, x, unnest(range(0, {BOOT_REPS})) AS rep FROM per_user
),
weighted AS (
  SELECT rep, x,
         CAST({_poisson1_sql(
             "(('0x' || substr(md5(user_id || ':' || rep), 1, 13))::BIGINT"
             " / CAST(" + str(float(2**52)) + " AS DOUBLE))"
         )} AS DOUBLE) AS w
  FROM reps
),
rep_means AS (
  SELECT rep, sum(w * x) / sum(w) AS m FROM weighted GROUP BY 1
),
point AS (SELECT avg(x) AS est FROM per_user)
SELECT count(*) AS n_reps,
       {fround_sql("avg(est)", 4)} AS point_est,
       {fround_sql("stddev_samp(m)", 4)} AS boot_se,
       {fround_sql("quantile_cont(m, 0.025)", 4)} AS ci_lo,
       {fround_sql("quantile_cont(m, 0.975)", 4)} AS ci_hi
FROM rep_means CROSS JOIN point
"""


MARKOV_POWER_ITERS = 4


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the behavioral Markov chain — where
    user attention settles in the long run, the single most-quoted
    summary of a transition matrix (feeds session simulators and
    engagement forecasts). π ← πP unrolled {MARKOV_POWER_ITERS} times
    from uniform; the chain here is irreducible (every type follows
    every type on real traffic) so the fixed unroll is converging,
    and — like pagerank/eigenvector — a FIXED depth is what keeps it
    exactly SQL-replayable. Cost after the one lead()-window pass:
    every iteration is a join+agg on the ≤|types|² matrix, literally
    dimension-table sized regardless of corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = W.partitionBy("from_type")
    P = counts.select(
        "from_type",
        "to_type",
        (F.col("n") / F.sum("n").over(wf)).alias("p"),
    ).localCheckpoint()
    states = P.select(F.col("from_type").alias("state")).distinct()
    k = states.count()
    pi = states.select("state", F.lit(1.0 / k).alias("pi"))
    for _ in range(MARKOV_POWER_ITERS):
        pi = (
            P.join(pi, P["from_type"] == pi["state"])
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
        )
    return pi.select(
        "state", fround("pi", 6).alias("stationary_p")
    ).orderBy("state")


def _markov_stationary_oracle() -> str:
    step = """
{cur} AS (
  SELECT P.to_type AS state, sum({prev}.pi * P.p) AS pi
  FROM P JOIN {prev} ON {prev}.state = P.from_type
  GROUP BY 1
)"""
    chain = ",".join(
        step.format(cur=f"pi{i}", prev=f"pi{i - 1}")
        for i in range(1, MARKOV_POWER_ITERS + 1)
    )
    return f"""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
P AS MATERIALIZED (
  SELECT from_type, to_type,
         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
pi0 AS (
  SELECT from_type AS state,
         1.0 / (SELECT count(DISTINCT from_type) FROM P) AS pi
  FROM (SELECT DISTINCT from_type FROM P)
),
{chain}
SELECT state, {fround_sql("pi", 6)} AS stationary_p
FROM pi{MARKOV_POWER_ITERS} ORDER BY state
"""


ORACLE["events_markov_stationary"] = _markov_stationary_oracle()


def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the behavioral Markov chain — how predictable
    the NEXT action is given the current one: H = −Σ_i π_i Σ_j p_ij
    ln p_ij (nats/step), with π from the same fixed power unroll as
    events_markov_stationary. The single number that separates
    habitual traffic (low rate: sessions are scripted) from
    exploratory traffic, and the information-theoretic floor for any
    next-event predictor's log-loss. Also reports the zeroth-order
    entropy H₀ = −Σ π ln π for comparison — the gap H₀ − H is the
    predictability GAIN from conditioning on state. Everything after
    the one lead()-window scan is |types|²-frame arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = W.partitionBy("from_type")
    P = counts.select(
        "from_type",
        "to_type",
        (F.col("n") / F.sum("n").over(wf)).alias("p"),
    ).localCheckpoint()
    states = P.select(F.col("from_type").alias("state")).distinct()
    k = states.count()
    pi = states.select("state", F.lit(1.0 / k).alias("pi"))
    for _ in range(MARKOV_POWER_ITERS):
        pi = (
            P.join(pi, P["from_type"] == pi["state"])
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.sum(F.col("pi") * F.col("p")).alias("pi"))
        )
    row_h = P.groupBy(F.col("from_type").alias("state")).agg(
        (-F.sum(F.col("p") * F.log("p"))).alias("h_row")
    )
    return (
        pi.join(F.broadcast(row_h), "state")
        .agg(
            F.count(F.lit(1)).alias("n_states"),
            F.sum(F.col("pi") * F.col("h_row")).alias("hr"),
            (-F.sum(F.col("pi") * F.log("pi"))).alias("h0"),
        )
        .select(
            "n_states",
            fround("hr", 6).alias("entropy_rate_nats"),
            fround("h0", 6).alias("h0_nats"),
            fround(F.col("h0") - F.col("hr"), 6).alias("predictability_gain"),
        )
    )


def _entropy_rate_oracle() -> str:
    step = """
{cur} AS (
  SELECT P.to_type AS state, sum({prev}.pi * P.p) AS pi
  FROM P JOIN {prev} ON {prev}.state = P.from_type
  GROUP BY 1
)"""
    chain = ",".join(
        step.format(cur=f"pi{i}", prev=f"pi{i - 1}")
        for i in range(1, MARKOV_POWER_ITERS + 1)
    )
    return f"""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY 1, 2
),
P AS MATERIALIZED (
  SELECT from_type, to_type,
         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
pi0 AS (
  SELECT from_type AS state,
         1.0 / (SELECT count(DISTINCT from_type) FROM P) AS pi
  FROM (SELECT DISTINCT from_type FROM P)
),
{chain},
row_h AS (
  SELECT from_type AS state, -sum(p * ln(p)) AS h_row
  FROM P GROUP BY 1
)
SELECT count(*) AS n_states,
       {fround_sql("sum(pi.pi * row_h.h_row)", 6)} AS entropy_rate_nats,
       {fround_sql("-sum(pi.pi * ln(pi.pi))", 6)} AS h0_nats,
       {fround_sql("-sum(pi.pi * ln(pi.pi)) - sum(pi.pi * row_h.h_row)", 6)} AS predictability_gain
FROM pi{MARKOV_POWER_ITERS} pi JOIN row_h ON row_h.state = pi.state
"""


ORACLE["events_entropy_rate"] = _entropy_rate_oracle()


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the revenue twin of cohort
    retention: customers grouped by FIRST-order month, cumulative
    revenue per customer tracked by months-since-acquisition. The
    curve finance teams integrate for payback-period and CAC-ceiling
    decisions. Plan: per-customer first-order month is one aggregate;
    (cohort, month) revenue is a second; the cumulative sum runs over
    the ≤|months| cells of each cohort (calendar-bounded window) and
    division by FIXED cohort size makes rows comparable across
    cohorts. Months-since uses exact month arithmetic (both engines
    count month boundaries, no day rounding)."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    sizes = first.groupBy("cohort").agg(
        F.countDistinct("o_custkey").alias("cohort_size")
    )
    rev = (
        orders.join(first, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            ).cast("bigint").alias("months_since"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    wcum = (
        W.partitionBy("cohort")
        .orderBy("months_since")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            "months_since",
            "cohort_size",
            fround(
                F.sum("rev").over(wcum) / F.col("cohort_size"), 2
            ).alias("cum_ltv_per_customer"),
        )
        .orderBy("cohort_month", "months_since")
    )


ORACLE["cohort_ltv_curve"] = f"""
WITH first AS (
  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cohort
  FROM orders GROUP BY 1
),
sizes AS (
  SELECT cohort, count(DISTINCT o_custkey) AS cohort_size
  FROM first GROUP BY 1
),
rev AS (
  SELECT f.cohort,
         (year(o.o_orderdate) - year(f.cohort)) * 12
           + (month(o.o_orderdate) - month(f.cohort)) AS months_since,
         sum(o.o_totalprice) AS rev
  FROM orders o JOIN first f USING (o_custkey)
  GROUP BY 1, 2
)
SELECT strftime(r.cohort, '%Y-%m') AS cohort_month,
       CAST(r.months_since AS BIGINT) AS months_since,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       {fround_sql(
           "sum(r.rev) OVER (PARTITION BY r.cohort ORDER BY r.months_since "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / s.cohort_size",
           2,
       )} AS cum_ltv_per_customer
FROM rev r JOIN sizes s USING (cohort)
ORDER BY cohort_month, months_since
"""


def events_user_activity_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law fit of user activity — the skew-planning number: if
    per-user event counts follow P(count = k) ∝ k^−α, the fitted α
    says how hot the hottest keys get (α ≤ 2 ⇒ unbounded mean —
    salting is mandatory; α ≥ 3 ⇒ near-uniform — plain hash
    partitioning is fine). Fitted on the COUNT-FREQUENCY histogram
    (k vs number of users with exactly k events) via least squares on
    the log-log pairs — the graph_degree_distribution shape: two hash
    aggregations, a |distinct-counts|-row regression frame, and NO
    rank/global sort anywhere (the naive Zipf rank-frequency plot
    needs row_number over all users; the frequency histogram carries
    the same exponent information without it). regr_slope/regr_r2 are
    built-ins on both engines."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("k"))
    hist = per_user.groupBy("k").agg(F.count(F.lit(1)).alias("n_users"))
    fit = hist.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("n_users").alias("n_total_users"),
        fround(
            -F.expr("regr_slope(ln(n_users), ln(k))"), 4
        ).alias("alpha"),
        fround(F.expr("regr_r2(ln(n_users), ln(k))"), 4).alias("r2"),
        F.max("k").alias("max_events_per_user"),
    )
    return fit


ORACLE["events_user_activity_powerlaw"] = f"""
WITH per_user AS (
  SELECT user_id, count(*) AS k FROM events GROUP BY 1
),
hist AS (
  SELECT k, count(*) AS n_users FROM per_user GROUP BY 1
)
SELECT count(*) AS n_points,
       CAST(sum(n_users) AS BIGINT) AS n_total_users,
       {fround_sql("-regr_slope(ln(n_users), ln(k))", 4)} AS alpha,
       {fround_sql("regr_r2(ln(n_users), ln(k))", 4)} AS r2,
       CAST(max(k) AS BIGINT) AS max_events_per_user
FROM hist
"""


def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the user–event-type graph onto types:
    the "which behaviors co-occur in the same users" similarity
    matrix (co-visitation / market-basket at the type level).
    weight(t1,t2) = |users doing both|; cosine normalizes by type
    popularity (w/√(n1·n2)); Jaccard by the union. THE scale trap in
    any bipartite projection is joining the fact table against
    itself on the shared node — instead this dedups to (user, type)
    once (the only data-sized shuffle) and expands pairs WITHIN each
    user, whose degree is bounded by |types|, so the pair stream is
    O(users·|types|²) with a |types|²-sized result. Hub users (the
    reason projections explode on social graphs) cannot exist here
    by construction; with an unbounded right vocabulary the same
    plan takes a per-user top-degree cap first."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    deg = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("t1"))
    b = ut.select("user_id", F.col("event_type").alias("t2"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return (
        pairs.join(
            F.broadcast(deg.select(F.col("event_type").alias("t1"), F.col("n").alias("n1"))),
            "t1",
        )
        .join(
            F.broadcast(deg.select(F.col("event_type").alias("t2"), F.col("n").alias("n2"))),
            "t2",
        )
        .select(
            "t1",
            "t2",
            "w",
            fround(F.col("w") / F.sqrt(F.col("n1") * F.col("n2")), 6).alias("cosine"),
            fround(
                F.col("w") / (F.col("n1") + F.col("n2") - F.col("w")), 6
            ).alias("jaccard"),
        )
        .orderBy("t1", "t2")
    )


ORACLE["graph_bipartite_projection"] = f"""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
),
deg AS (
  SELECT event_type, count(*) AS n FROM ut GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS w
  FROM ut a JOIN ut b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT t1, t2, w,
       {fround_sql("w / sqrt(d1.n * d2.n)", 6)} AS cosine,
       {fround_sql("w / (d1.n + d2.n - w)", 6)} AS jaccard
FROM pairs
JOIN deg d1 ON d1.event_type = t1
JOIN deg d2 ON d2.event_type = t2
ORDER BY t1, t2
"""


def events_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for event value across event types —
    the k-group generalization of ``ab_welch_ttest``'s two arms: does
    the metric differ across ANY of the k groups, in one test instead
    of k² pairwise comparisons (the multiple-testing trap). Pure
    closed-form decomposition SS_total = SS_between + SS_within from
    ONE aggregation over (type): SSB = Σ nᵢ(mᵢ−m̄)², SSW = Σ(nᵢ−1)vᵢ,
    F = (SSB/(k−1))/(SSW/(N−k)), plus η² = SSB/(SSB+SSW) (effect
    size — F says "real", η² says "big enough to matter"). At 100 TB
    this is a k-row partial-aggregated shuffle and 1-row arithmetic;
    like Welch, the F statistic and dfs are reported (the F CDF is
    not SQL-expressible) — gates threshold F directly."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        (F.sum(F.col("n") * F.col("m")) / F.sum("n")).alias("gm"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "nn", "gm")
        .agg(
            F.sum(
                F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
            ).alias("ssb"),
            F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
        )
        .select(
            "k",
            F.col("nn").alias("n_total"),
            (F.col("k") - 1).alias("df_between"),
            (F.col("nn") - F.col("k")).alias("df_within"),
            fround("ssb", 4).alias("ss_between"),
            fround("ssw", 4).alias("ss_within"),
            fround(
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("nn") - F.col("k"))),
                6,
            ).alias("f_stat"),
            fround(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
                "eta_squared"
            ),
        )
    )


ORACLE["events_anova_oneway"] = f"""
WITH g AS (
  SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
         sum(n * m) / sum(n) AS gm
  FROM g
),
ss AS (
  SELECT tot.k, tot.nn, tot.gm,
         sum(g.n * (g.m - tot.gm) * (g.m - tot.gm)) AS ssb,
         sum((g.n - 1) * g.v) AS ssw
  FROM g CROSS JOIN tot GROUP BY 1, 2, 3
)
SELECT k, nn AS n_total,
       k - 1 AS df_between,
       nn - k AS df_within,
       {fround_sql("ssb", 4)} AS ss_between,
       {fround_sql("ssw", 4)} AS ss_within,
       {fround_sql("(ssb / (k - 1)) / (ssw / (nn - k))", 6)} AS f_stat,
       {fround_sql("ssb / (ssb + ssw)", 6)} AS eta_squared
FROM ss
"""


def events_markov_order2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is user behavior SECOND-order Markov? Per (s1, s2) context,
    compare the log-likelihood of the order-2 transition model
    P(s3 | s1, s2) against order-1 P(s3 | s2) evaluated on the same
    trigram stream — per-context LL gain plus the G² = 2·ΔLL
    statistic whose magnitude says whether the extra memory is real
    structure (feeding sequence-model order choice and
    ``markov_transitions``' validity). All counts: one windowed pass
    builds (s1, s2, s3) trigrams per user (lag-2/lag-1 over the
    user-keyed ordering), then trigram/bigram/context aggregations are
    |types|³-bounded frames joined broadcast. ln on count RATIOS only
    (never ln(0): every observed trigram has positive marginals by
    construction)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "user_id",
            F.col("event_type").alias("s3"),
            F.lag("event_type", 1).over(w).alias("s2"),
            F.lag("event_type", 2).over(w).alias("s1"),
            "ts",
            "event_id",
        )
        .filter(F.col("s1").isNotNull())
        .groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).alias("n3"))
    )
    ctx2 = tri.groupBy("s1", "s2").agg(F.sum("n3").alias("n12"))
    big = tri.groupBy("s2", "s3").agg(F.sum("n3").alias("n23"))
    ctx1 = tri.groupBy("s2").agg(F.sum("n3").alias("n2"))
    j = (
        tri.join(F.broadcast(ctx2), ["s1", "s2"])
        .join(F.broadcast(big), ["s2", "s3"])
        .join(F.broadcast(ctx1), "s2")
    )
    ll2 = F.col("n3") * F.log(F.col("n3") / F.col("n12"))
    ll1 = F.col("n3") * F.log(F.col("n23") / F.col("n2"))
    per_ctx = j.groupBy("s1", "s2").agg(
        F.sum("n3").alias("n_transitions"),
        F.sum(ll1).alias("ll_order1"),
        F.sum(ll2).alias("ll_order2"),
    )
    return per_ctx.select(
        "s1",
        "s2",
        F.col("n_transitions").cast("bigint").alias("n_transitions"),
        fround("ll_order1", 4).alias("ll_order1"),
        fround("ll_order2", 4).alias("ll_order2"),
        fround(2.0 * (F.col("ll_order2") - F.col("ll_order1")), 4).alias("g2"),
    ).orderBy("s1", "s2")


ORACLE["events_markov_order2"] = f"""
WITH seq AS (
  SELECT user_id, event_type AS s3,
         lag(event_type, 1) OVER w AS s2,
         lag(event_type, 2) OVER w AS s1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
  SELECT s1, s2, s3, count(*) AS n3 FROM seq
  WHERE s1 IS NOT NULL GROUP BY 1, 2, 3
),
ctx2 AS (SELECT s1, s2, sum(n3) AS n12 FROM tri GROUP BY 1, 2),
big AS (SELECT s2, s3, sum(n3) AS n23 FROM tri GROUP BY 1, 2),
ctx1 AS (SELECT s2, sum(n3) AS n2 FROM tri GROUP BY 1),
j AS (
  SELECT t.s1, t.s2, t.n3,
         t.n3 * ln(t.n3 * 1.0 / c2.n12) AS ll2,
         t.n3 * ln(b.n23 * 1.0 / c1.n2) AS ll1
  FROM tri t
  JOIN ctx2 c2 ON c2.s1 = t.s1 AND c2.s2 = t.s2
  JOIN big b ON b.s2 = t.s2 AND b.s3 = t.s3
  JOIN ctx1 c1 ON c1.s2 = t.s2
),
per AS (
  SELECT s1, s2, CAST(sum(n3) AS BIGINT) AS n_transitions,
         sum(ll1) AS ll_order1, sum(ll2) AS ll_order2
  FROM j GROUP BY 1, 2
)
SELECT s1, s2, n_transitions,
       {fround_sql("ll_order1", 4)} AS ll_order1,
       {fround_sql("ll_order2", 4)} AS ll_order2,
       {fround_sql("2.0 * (ll_order2 - ll_order1)", 4)} AS g2
FROM per ORDER BY s1, s2
"""


OBF_C = 2.24  # O'Brien-Fleming-shaped boundary scale: b(t) = C / sqrt(t)


def ab_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B monitoring with an O'Brien-Fleming-
    shaped spending boundary — the daily peeking dashboard that does
    NOT inflate false positives the way repeated fixed-alpha z-tests
    do. Per calendar day: cumulative per-arm n/sum/sumsq of the event
    value metric (arm = the md5 hash split shared with ab_welch_ttest
    / ab_bayesian_beta), Welch z on the CUMULATIVE moments, information
    fraction t = n_cum / n_total, and the boundary b(t) = {c}/sqrt(t)
    — early looks demand overwhelming evidence, the final look
    approaches a fixed-horizon critical value. Output: one row per
    day with (z, boundary, crossed) — the experiment stops the first
    day |z| > b(t).

    Scale shape: one pass collapses the fact table to day×arm grain
    (map-side combinable moments), the pivot + running sums operate
    on the |days|-row frame, and the total is one more model-sized
    aggregate — nothing downstream of the first groupBy scales with
    rows. Cumulative variance derives from (n, sum, sumsq) — the
    mergeable-moments trick, so this plan IS the incremental-
    maintenance shape: tomorrow's row needs only today's moments
    plus the new day's partial."""
    ev = load_table(spark, sf_dir, "events")
    arm = (F.md5(F.col("user_id").cast("string")) < "8").cast("int")
    daily = (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            arm.alias("arm"),
            F.col("value").alias("v"),
        )
        .groupBy("day", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("q"),
        )
    )
    piv = daily.groupBy("day").agg(
        F.coalesce(F.max(F.when(F.col("arm") == 1, F.col("n"))), F.lit(0)).alias("na_d"),
        F.coalesce(F.max(F.when(F.col("arm") == 1, F.col("s"))), F.lit(0.0)).alias("sa_d"),
        F.coalesce(F.max(F.when(F.col("arm") == 1, F.col("q"))), F.lit(0.0)).alias("qa_d"),
        F.coalesce(F.max(F.when(F.col("arm") == 0, F.col("n"))), F.lit(0)).alias("nb_d"),
        F.coalesce(F.max(F.when(F.col("arm") == 0, F.col("s"))), F.lit(0.0)).alias("sb_d"),
        F.coalesce(F.max(F.when(F.col("arm") == 0, F.col("q"))), F.lit(0.0)).alias("qb_d"),
    )
    # the cumulative window runs on the |days|-row pivot — bounded by
    # construction, so the single-partition spelling is the plan
    piv, w0 = single_partition(piv, by=["day"])
    wc = w0.rowsBetween(W.unboundedPreceding, 0)
    cum = piv.select(
        "day",
        F.sum("na_d").over(wc).alias("na"),
        F.sum("sa_d").over(wc).alias("sa"),
        F.sum("qa_d").over(wc).alias("qa"),
        F.sum("nb_d").over(wc).alias("nb"),
        F.sum("sb_d").over(wc).alias("sb"),
        F.sum("qb_d").over(wc).alias("qb"),
    )
    tot = piv.agg(
        (F.sum("na_d") + F.sum("nb_d")).cast("double").alias("nt")
    )
    j = cum.crossJoin(F.broadcast(tot))
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    va = (F.col("qa") - F.col("sa") * F.col("sa") / F.col("na")) / (F.col("na") - 1)
    vb = (F.col("qb") - F.col("sb") * F.col("sb") / F.col("nb")) / (F.col("nb") - 1)
    se = F.sqrt(F.greatest(va / F.col("na") + vb / F.col("nb"), F.lit(1e-12)))
    z = F.when((F.col("na") > 1) & (F.col("nb") > 1), (mb - ma) / se)
    t_frac = (F.col("na") + F.col("nb")) / F.col("nt")
    bound = F.lit(OBF_C) / F.sqrt(t_frac)
    return (
        j.select(
            "day",
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            fround(t_frac, 6).alias("t_frac"),
            fround(z, 4).alias("z"),
            fround(bound, 4).alias("boundary"),
            (F.abs(z) > bound).alias("crossed"),
        )
        .orderBy("day")
    )


ab_sequential_obf.__doc__ = ab_sequential_obf.__doc__.format(c=OBF_C)


ORACLE["ab_sequential_obf"] = f"""
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(md5(CAST(user_id AS VARCHAR)) < '8' AS INT) AS arm,
         count(*) AS n, sum(value) AS s, sum(value * value) AS q
  FROM events GROUP BY 1, 2
),
piv AS (
  SELECT day,
         coalesce(max(CASE WHEN arm = 1 THEN n END), 0) AS na_d,
         coalesce(max(CASE WHEN arm = 1 THEN s END), 0.0) AS sa_d,
         coalesce(max(CASE WHEN arm = 1 THEN q END), 0.0) AS qa_d,
         coalesce(max(CASE WHEN arm = 0 THEN n END), 0) AS nb_d,
         coalesce(max(CASE WHEN arm = 0 THEN s END), 0.0) AS sb_d,
         coalesce(max(CASE WHEN arm = 0 THEN q END), 0.0) AS qb_d
  FROM daily GROUP BY day
),
cum AS (
  SELECT day,
         sum(na_d) OVER w AS na, sum(sa_d) OVER w AS sa, sum(qa_d) OVER w AS qa,
         sum(nb_d) OVER w AS nb, sum(sb_d) OVER w AS sb, sum(qb_d) OVER w AS qb
  FROM piv
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (SELECT CAST(sum(na_d) + sum(nb_d) AS DOUBLE) AS nt FROM piv),
m AS (
  SELECT day, na, nb, (na + nb) / tot.nt AS t_frac,
         CASE WHEN na > 1 AND nb > 1 THEN
           ((sb / nb) - (sa / na))
           / sqrt(greatest(
               ((qa - sa * sa / na) / (na - 1)) / na
             + ((qb - sb * sb / nb) / (nb - 1)) / nb, 1e-12))
         END AS z
  FROM cum CROSS JOIN tot
)
SELECT day, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
       {fround_sql("t_frac", 6)} AS t_frac,
       {fround_sql("z", 4)} AS z,
       {fround_sql(f"{OBF_C} / sqrt(t_frac)", 4)} AS boundary,
       abs(z) > {OBF_C} / sqrt(t_frac) AS crossed
FROM m ORDER BY day
"""


PWR_Z_ALPHA = 1.959964  # two-sided α = 0.05
PWR_Z_BETA = 0.841621  # 80% power
PWR_REL_MDE = 0.10  # minimum detectable effect: +10% relative lift


RATE_SPLIT_DAY = 15  # first-half / second-half boundary (days from corpus start)


def events_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate test per event type — the ops-monitor
    question "did this event's RATE change between the first and
    second half of the window?" that a t-test on values cannot answer
    (counts, not measurements). With c1 events in t1 days and c2 in
    t2 days, the normal-approximation test statistic is
    z = (r1 - r2) / sqrt(c1/t1^2 + c2/t2^2), r = c/t. Exposure-time
    denominators make it robust to unequal halves. Plan: ONE
    partial-aggregating pass to (type, half) counts — the entire test
    runs on a 2x|types| frame; the corpus-start anchor is a broadcast
    1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    lo = ev.agg(F.date_trunc("day", F.min("ts")).alias("d0"))
    maxd = ev.agg(
        (F.datediff(F.date_trunc("day", F.max("ts")),
                    F.date_trunc("day", F.min("ts"))) + 1).alias("span_days")
    )
    halves = (
        ev.crossJoin(F.broadcast(lo))
        .select(
            "event_type",
            (
                F.datediff(F.date_trunc("day", "ts"), "d0") < RATE_SPLIT_DAY
            ).cast("int").alias("h1"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("h1").alias("c1"),
            F.sum(F.lit(1) - F.col("h1")).alias("c2"),
        )
        .crossJoin(F.broadcast(maxd))
    )
    t1 = F.lit(float(RATE_SPLIT_DAY))
    t2 = (F.col("span_days") - RATE_SPLIT_DAY).cast("double")
    r1 = F.col("c1") / t1
    r2 = F.col("c2") / t2
    se = F.sqrt(
        F.greatest(
            F.col("c1") / (t1 * t1) + F.col("c2") / (t2 * t2), F.lit(1e-12)
        )
    )
    z = (r1 - r2) / se
    return (
        halves.select(
            "event_type",
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            fround(r1, 4).alias("rate1_per_day"),
            fround(r2, 4).alias("rate2_per_day"),
            fround(z, 4).alias("z"),
            (F.abs(z) > PWR_Z_ALPHA).alias("rate_changed"),
        )
        .orderBy("event_type")
    )


ORACLE["events_poisson_rate_test"] = f"""
WITH lo AS (SELECT date_trunc('day', min(ts)) AS d0,
                   date_diff('day', date_trunc('day', min(ts)),
                             date_trunc('day', max(ts))) + 1 AS span_days
            FROM events),
halves AS (
  SELECT event_type,
         CAST(sum(CASE WHEN date_diff('day', lo.d0, date_trunc('day', ts))
                            < {RATE_SPLIT_DAY} THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN date_diff('day', lo.d0, date_trunc('day', ts))
                            < {RATE_SPLIT_DAY} THEN 0 ELSE 1 END) AS BIGINT) AS c2,
         any_value(lo.span_days) AS span_days
  FROM events, lo GROUP BY event_type
),
m AS (
  SELECT event_type, c1, c2,
         c1 / {float(RATE_SPLIT_DAY)} AS r1,
         c2 / CAST(span_days - {RATE_SPLIT_DAY} AS DOUBLE) AS r2,
         (c1 / {float(RATE_SPLIT_DAY)}
          - c2 / CAST(span_days - {RATE_SPLIT_DAY} AS DOUBLE))
         / sqrt(greatest(
             c1 / ({float(RATE_SPLIT_DAY)} * {float(RATE_SPLIT_DAY)})
           + c2 / (CAST(span_days - {RATE_SPLIT_DAY} AS DOUBLE)
                   * CAST(span_days - {RATE_SPLIT_DAY} AS DOUBLE)), 1e-12)) AS z
  FROM halves
)
SELECT event_type, c1, c2,
       {fround_sql("r1", 4)} AS rate1_per_day,
       {fround_sql("r2", 4)} AS rate2_per_day,
       {fround_sql("z", 4)} AS z,
       abs(z) > {PWR_Z_ALPHA} AS rate_changed
FROM m ORDER BY event_type
"""




def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis per event type — the "can this
    corpus even detect the lift we care about" gate that should run
    BEFORE ``ab_welch_ttest``/``ab_bayesian_beta`` ever do: from the
    observed conversion base rate p, the users per arm required to
    detect a +{PWR_REL_MDE:.0%} relative lift at α=0.05 / 80% power
    under the standard two-proportion normal approximation,
    n = (z_α/2 + z_β)²·(p₁q₁ + p₂q₂)/(p₂−p₁)², compared against the
    users actually available per arm. Closed form over one distinct
    aggregation (the same (type, user) dedup the A/B readouts use);
    all arithmetic identical in the oracle. An underpowered flag
    here is what stops a team from reading noise as a result."""
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_total")
    )
    conv = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_conv"))
        .crossJoin(F.broadcast(n_users))
    )
    p1 = F.col("n_conv") / F.col("n_total")
    p2 = F.least(p1 * (1.0 + PWR_REL_MDE), F.lit(0.999999))
    zsum2 = float((PWR_Z_ALPHA + PWR_Z_BETA) ** 2)
    n_req = (
        F.lit(zsum2)
        * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        / ((p2 - p1) * (p2 - p1))
    )
    avail = (F.col("n_total") / 2.0).cast("double")
    return conv.select(
        "event_type",
        F.col("n_total").alias("n_users"),
        fround(p1, 6).alias("p_base"),
        fround(p2, 6).alias("p_target"),
        F.ceil(n_req).cast("bigint").alias("n_required_per_arm"),
        (avail >= n_req).alias("powered"),
    ).orderBy("event_type")


_PWR_P1 = "(n_conv * 1.0 / n_total)"
_PWR_P2 = f"least({_PWR_P1} * {1.0 + PWR_REL_MDE}, 0.999999)"
_PWR_NREQ = (
    f"({(PWR_Z_ALPHA + PWR_Z_BETA) ** 2!r}"
    f" * ({_PWR_P1} * (1.0 - {_PWR_P1}) + {_PWR_P2} * (1.0 - {_PWR_P2}))"
    f" / (({_PWR_P2} - {_PWR_P1}) * ({_PWR_P2} - {_PWR_P1})))"
)

ORACLE["ab_power_analysis"] = f"""
WITH u AS (SELECT count(*) AS n_total
           FROM (SELECT DISTINCT user_id FROM events)),
conv AS (
  SELECT event_type, count(*) AS n_conv
  FROM (SELECT DISTINCT event_type, user_id FROM events) GROUP BY 1
)
SELECT event_type,
       CAST(u.n_total AS BIGINT) AS n_users,
       {fround_sql(_PWR_P1, 6)} AS p_base,
       {fround_sql(_PWR_P2, 6)} AS p_target,
       CAST(ceil({_PWR_NREQ}) AS BIGINT) AS n_required_per_arm,
       (u.n_total / 2.0) >= {_PWR_NREQ} AS powered
FROM conv, u ORDER BY event_type
"""


def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator per event type — the
    observational sibling of the A/B readouts: when assignment isn't
    randomized per-request, DiD removes both the group baseline and
    the common time trend in one subtraction, (T_post − T_pre) −
    (C_post − C_pre). Groups are the deterministic md5 user split,
    periods the first-15-days/rest split (same knives as
    ``ab_bayesian_beta`` and ``table_ks_drift``). One aggregation to
    the 4-cell (arm × period) means per type, then closed-form
    estimate and SE = √(Σ vᵢ/nᵢ) over the four cells (independent
    cell means), t = DiD/SE. At 100 TB: one partial-combined shuffle
    on a 4×|types| key; everything after is 4-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    lo = ev.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    cells = (
        ev.crossJoin(F.broadcast(lo))
        .select(
            "event_type",
            (F.md5(F.col("user_id").cast("string")) < "8")
            .cast("int")
            .alias("treated"),
            (F.datediff(F.date_trunc("day", "ts"), "d0") >= 15)
            .cast("int")
            .alias("post"),
            "value",
        )
        .groupBy("event_type", "treated", "post")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )

    def cell(t, p, col):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    g = cells.groupBy("event_type").agg(
        *[
            cell(t, p, c).alias(f"{c}{t}{p}")
            for t in (0, 1)
            for p in (0, 1)
            for c in ("n", "m", "v")
        ]
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(
        F.col("v00") / F.col("n00")
        + F.col("v01") / F.col("n01")
        + F.col("v10") / F.col("n10")
        + F.col("v11") / F.col("n11")
    )
    return g.select(
        "event_type",
        F.col("n10").alias("n_treat_pre"),
        F.col("n11").alias("n_treat_post"),
        F.col("n00").alias("n_ctrl_pre"),
        F.col("n01").alias("n_ctrl_post"),
        fround(F.col("m11") - F.col("m10"), 4).alias("delta_treat"),
        fround(F.col("m01") - F.col("m00"), 4).alias("delta_ctrl"),
        fround(did, 4).alias("did"),
        fround(se, 4).alias("se"),
        fround(did / se, 4).alias("t_stat"),
    ).orderBy("event_type")


ORACLE["events_diff_in_diff"] = f"""
WITH lo AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
cells AS (
  SELECT event_type,
         CAST(md5(CAST(user_id AS VARCHAR)) < '8' AS INT) AS treated,
         CAST(date_diff('day', lo.d0, date_trunc('day', ts)) >= 15 AS INT)
           AS post,
         count(*) AS n, avg(value) AS m, var_samp(value) AS v
  FROM events, lo GROUP BY 1, 2, 3
),
g AS (
  SELECT event_type,
         {", ".join(
             f"max(CASE WHEN treated = {t} AND post = {p} "
             f"THEN {c} END) AS {c}{t}{p}"
             for t in (0, 1) for p in (0, 1) for c in ("n", "m", "v")
         )}
  FROM cells GROUP BY 1
)
SELECT event_type,
       CAST(n10 AS BIGINT) AS n_treat_pre,
       CAST(n11 AS BIGINT) AS n_treat_post,
       CAST(n00 AS BIGINT) AS n_ctrl_pre,
       CAST(n01 AS BIGINT) AS n_ctrl_post,
       {fround_sql("m11 - m10", 4)} AS delta_treat,
       {fround_sql("m01 - m00", 4)} AS delta_ctrl,
       {fround_sql("(m11 - m10) - (m01 - m00)", 4)} AS did,
       {fround_sql("sqrt(v00/n00 + v01/n01 + v10/n10 + v11/n11)", 4)} AS se,
       {fround_sql(
           "((m11 - m10) - (m01 - m00))"
           " / sqrt(v00/n00 + v01/n01 + v10/n10 + v11/n11)", 4)} AS t_stat
FROM g ORDER BY event_type
"""


KM_HORIZONS = (30, 60, 90, 180, 365)  # survival readout days


def _reorder_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared survival machinery for ``survival_kaplan_meier`` and
    ``survival_nelson_aalen``: time-to-reorder durations (last order
    per customer censored at the corpus max date), the day-granular
    (d, c, n_risk) grid bounded by max(KM_HORIZONS), running KM
    log-survival, running Nelson-Aalen hazard, and cumulative
    event/censor counts. One customer-keyed window pass collapses the
    fact table; everything after runs on the provably-bounded grid
    via ``single_partition``. Durations beyond the horizon cut enter
    ONLY through the total (risk-set mass), which also keeps
    1 − d/n strictly positive on every retained row (no ln(0))."""
    orders = load_table(spark, sf_dir, "orders")
    wmax = orders.agg(F.max("o_orderdate").alias("obs_end"))
    wcust = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    durs = (
        orders.crossJoin(F.broadcast(wmax))
        .withColumn("nxt", F.lead("o_orderdate").over(wcust))
        .select(
            F.when(
                F.col("nxt").isNotNull(),
                F.datediff("nxt", "o_orderdate"),
            )
            .otherwise(F.datediff("obs_end", "o_orderdate"))
            .alias("dur"),
            F.col("nxt").isNotNull().cast("bigint").alias("event"),
        )
    )
    total_df = durs.agg(F.count(F.lit(1)).alias("total"))
    grid = (
        durs.filter(F.col("dur") <= max(KM_HORIZONS))
        .groupBy("dur")
        .agg(
            F.sum("event").alias("d"),
            F.sum(F.lit(1) - F.col("event")).alias("c"),
        )
        .crossJoin(F.broadcast(total_df))
    )
    g1, wg = single_partition(grid, by=["dur"])
    w_prev = wg.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    w_upto = wg.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    return (
        g1.withColumn(
            "n_risk",
            F.col("total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)),
        )
        .withColumn(
            "logterm",
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "hazterm",
            F.when(
                F.col("n_risk") > 0, F.col("d") / F.col("n_risk")
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("logs", F.sum("logterm").over(w_upto))
        .withColumn("haz", F.sum("hazterm").over(w_upto))
        .withColumn("cum_d", F.sum("d").over(w_upto))
        .withColumn("cum_c", F.sum("c").over(w_upto))
    )


def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator H(t) = sum d_u/n_u
    over the same censoring-correct time-to-reorder grid as
    ``survival_kaplan_meier``, plus the Fleming-Harrington survival
    S = exp(-H) — the estimator of choice when event counts per
    distinct time are small (it is the sum the KM product linearizes
    to, and its variance behaves better in sparse grids; comparing
    the two columns IS the small-sample diagnostic). Shares the
    entire plan with KM via ``_reorder_duration_curve``: one
    customer-keyed window pass, then model-sized arithmetic."""
    curve = _reorder_duration_curve(spark, sf_dir)
    horizons = spark.range(len(KM_HORIZONS)).select(
        F.element_at(
            F.array(*[F.lit(h) for h in KM_HORIZONS]),
            (F.col("id") + 1).cast("int"),
        ).alias("horizon_days")
    )
    return (
        curve.join(
            F.broadcast(horizons),
            F.col("dur") <= F.col("horizon_days"),
        )
        .groupBy("horizon_days")
        .agg(
            F.max(F.struct("dur", "haz", "cum_d", "cum_c")).alias("last"),
            F.first("total").alias("total"),
        )
        .select(
            "horizon_days",
            (F.col("total") - F.col("last.cum_d") - F.col("last.cum_c")).alias(
                "n_at_risk"
            ),
            F.col("last.cum_d").alias("events_so_far"),
            fround("last.haz", 6).alias("cum_hazard"),
            fround(F.exp(-F.col("last.haz")), 6).alias("s_fleming_harrington"),
        )
        .orderBy("horizon_days")
    )


ORACLE["survival_nelson_aalen"] = f"""
WITH durs AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', o_orderdate, nxt)
              ELSE date_diff('day', o_orderdate,
                             (SELECT max(o_orderdate) FROM orders))
         END AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (
    SELECT o_orderdate,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS nxt
    FROM orders
  )
),
grid AS (
  SELECT dur, CAST(sum(event) AS BIGINT) AS d,
         CAST(sum(1 - event) AS BIGINT) AS c,
         (SELECT count(*) FROM durs) AS total
  FROM durs WHERE dur <= {max(KM_HORIZONS)} GROUP BY dur
),
curve AS (
  SELECT dur, d, c, total,
         total - coalesce(sum(d + c) OVER (
             ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS n_risk,
         sum(d) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum_d,
         sum(c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum_c
  FROM grid
),
curve2 AS (
  SELECT dur, total, cum_d, cum_c,
         sum(CASE WHEN n_risk > 0 THEN d * 1.0 / n_risk ELSE 0.0 END)
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS haz
  FROM curve
),
h AS (SELECT unnest([{", ".join(str(h) for h in KM_HORIZONS)}]) AS horizon_days),
j AS (
  SELECT h.horizon_days, max_by(curve2, curve2.dur) AS last,
         any_value(curve2.total) AS total
  FROM curve2 JOIN h ON curve2.dur <= h.horizon_days
  GROUP BY h.horizon_days
)
SELECT horizon_days,
       CAST(total - last.cum_d - last.cum_c AS BIGINT) AS n_at_risk,
       CAST(last.cum_d AS BIGINT) AS events_so_far,
       {fround_sql("last.haz", 6)} AS cum_hazard,
       {fround_sql("exp(-last.haz)", 6)} AS s_fleming_harrington
FROM j ORDER BY horizon_days
"""


def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator over time-to-reorder —
    the censoring-correct answer to "how long until a customer buys
    again?" that a naive avg(gap) gets wrong (customers who never
    reordered are CENSORED at the observation edge, not ignored):
    every consecutive order pair is an observed reorder duration, the
    last order of each customer is censored at the corpus max date,
    and S(t) = Π_{{u≤t}} (1 − d_u/n_u) over the grouped duration grid.
    Scale shape: one customer-keyed window pass builds durations
    map-side-combinable into the DAY-GRANULAR grid (bounded by the
    calendar span, NOT by row count), the risk-set/product recursion
    runs on that provably-bounded grid via ``single_partition``, and
    the {len(KM_HORIZONS)}-row horizon readout joins the grid
    broadcast. The product becomes exp(Σ ln(1−d/n)) so one running
    sum replaces the sequential product. Output per horizon: at-risk
    count, cumulative events/censored, S(horizon)."""
    curve = _reorder_duration_curve(spark, sf_dir)
    horizons = spark.range(len(KM_HORIZONS)).select(
        F.element_at(
            F.array(*[F.lit(h) for h in KM_HORIZONS]),
            (F.col("id") + 1).cast("int"),
        ).alias("horizon_days")
    )
    return (
        curve.join(
            F.broadcast(horizons),
            F.col("dur") <= F.col("horizon_days"),
        )
        .groupBy("horizon_days")
        .agg(
            F.max(F.struct("dur", "logs", "cum_d", "cum_c")).alias("last"),
            F.first("total").alias("total"),
        )
        .select(
            "horizon_days",
            (F.col("total") - F.col("last.cum_d") - F.col("last.cum_c")).alias(
                "n_at_risk"
            ),
            F.col("last.cum_d").alias("events_so_far"),
            F.col("last.cum_c").alias("censored_so_far"),
            fround(F.exp("last.logs"), 6).alias("survival"),
        )
        .orderBy("horizon_days")
    )


ORACLE["survival_kaplan_meier"] = f"""
WITH durs AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', o_orderdate, nxt)
              ELSE date_diff('day', o_orderdate,
                             (SELECT max(o_orderdate) FROM orders))
         END AS dur,
         CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM (
    SELECT o_orderdate,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS nxt
    FROM orders
  )
),
grid AS (
  SELECT dur, CAST(sum(event) AS BIGINT) AS d,
         CAST(sum(1 - event) AS BIGINT) AS c,
         (SELECT count(*) FROM durs) AS total
  FROM durs WHERE dur <= {max(KM_HORIZONS)} GROUP BY dur
),
curve AS (
  SELECT dur, d, c, total,
         total - coalesce(sum(d + c) OVER (
             ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS n_risk,
         sum(d) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum_d,
         sum(c) OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS cum_c
  FROM grid
),
curve2 AS (
  SELECT dur, total, cum_d, cum_c,
         sum(CASE WHEN d > 0 AND d < n_risk
                  THEN ln(1.0 - d / n_risk) ELSE 0.0 END)
           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS logs
  FROM curve
),
h AS (SELECT unnest([{", ".join(str(h) for h in KM_HORIZONS)}]) AS horizon_days),
j AS (
  SELECT h.horizon_days, max_by(curve2, curve2.dur) AS last,
         any_value(curve2.total) AS total
  FROM curve2 JOIN h ON curve2.dur <= h.horizon_days
  GROUP BY h.horizon_days
)
SELECT horizon_days,
       CAST(total - last.cum_d - last.cum_c AS BIGINT) AS n_at_risk,
       CAST(last.cum_d AS BIGINT) AS events_so_far,
       CAST(last.cum_c AS BIGINT) AS censored_so_far,
       {fround_sql("exp(last.logs)", 6)} AS survival
FROM j ORDER BY horizon_days
"""


SEQ_GAP_US = 900 * 1_000_000  # 15-minute follow window, exact int µs
SEQ_TOPK = 20
# The pattern alphabet: patterns are mined over this FIXED vocabulary
# (the funnel-op convention). This is what keeps the operator LINEAR —
# the naive instance-pair self-join is quadratic in per-user event
# RATE (the sf1 sweep measured exponent 1.09 on exactly that
# formulation before this rewrite); the window form below does one
# pass with |SEQ_TYPES| conditional mins and never enumerates pairs.
# Both engines filter to this list, so vocabulary drift in future
# data fails the value gate instead of silently diverging.
SEQ_TYPES = ("click", "error", "purchase", "signup", "view")


def events_seq_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-constrained sequential-pattern support (the length-2 core
    of PrefixSpan/SPAM-style mining): a user exhibits pattern a→b iff
    some b-event follows some a-event within {gap_min} minutes — NOT
    necessarily adjacently, which is what separates this from
    ``markov_transitions`` (adjacent-pair transition probabilities).
    Support = number of users exhibiting the pattern; avg_min_gap_s =
    the mean over users of their tightest qualifying gap — the
    "how quickly does b follow a" signature used for funnel timeouts.

    Scale shape: ONE user-partitioned range window (value frame
    (t, t+gap]) carrying |SEQ_TYPES| conditional mins — per event,
    the earliest following occurrence of each type — then a (user, a)
    aggregate and a |types|²-row support table. Strictly linear in
    events: the instance-pair self-join this replaced measured
    exponent 1.09 in the sf1 sweep because pairs grow with the SQUARE
    of per-user event rate; the window form examines each event once
    per alphabet symbol. Gap arithmetic is exact integer microseconds
    (unix_micros ↔ epoch_us). Top-{SEQ_TOPK} by support via
    TakeOrderedAndProject (no global-sort exchange); same-timestamp
    events never pair (frame starts at 1 µs following)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t"),
    ).filter(F.col("event_type").isin(*SEQ_TYPES))
    w = (
        W.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(1, SEQ_GAP_US)
    )
    per_a = ev.select(
        "user_id",
        F.col("event_type").alias("ea"),
        *[
            (F.min(F.when(F.col("event_type") == tname, F.col("t"))).over(w)
             - F.col("t")).alias(f"g_{i}")
            for i, tname in enumerate(SEQ_TYPES)
        ],
    )
    per_user = (
        per_a.groupBy("user_id", "ea")
        .agg(
            *[F.min(f"g_{i}").alias(f"mg_{i}") for i in range(len(SEQ_TYPES))]
        )
        .select(
            "user_id",
            "ea",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(tname).alias("eb"),
                            F.col(f"mg_{i}").alias("mingap_us"),
                        )
                        for i, tname in enumerate(SEQ_TYPES)
                    ]
                )
            ).alias("p"),
        )
        .select("user_id", "ea", "p.eb", "p.mingap_us")
        .filter(F.col("mingap_us").isNotNull())
    )
    return (
        per_user.groupBy("ea", "eb")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            fround(F.avg("mingap_us") / F.lit(1_000_000.0), 2).alias(
                "avg_min_gap_s"
            ),
        )
        .orderBy(F.col("n_users").desc(), "ea", "eb")
        .limit(SEQ_TOPK)
    )


events_seq_pattern_support.__doc__ = events_seq_pattern_support.__doc__.format(
    gap_min=SEQ_GAP_US // 60_000_000, SEQ_TOPK=SEQ_TOPK
)


def _seq_pattern_oracle() -> str:
    types_in = ", ".join(f"'{t}'" for t in SEQ_TYPES)
    return f"""
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events
            WHERE event_type IN ({types_in})),
pu AS (
  SELECT a.user_id, a.event_type AS ea, b.event_type AS eb,
         min(b.t - a.t) AS mingap_us
  FROM ev a JOIN ev b
    ON b.user_id = a.user_id
   AND b.t > a.t AND b.t - a.t <= {SEQ_GAP_US}
  GROUP BY 1, 2, 3
)
SELECT ea, eb, CAST(count(*) AS BIGINT) AS n_users,
       {fround_sql("avg(mingap_us) / 1000000.0", 2)} AS avg_min_gap_s
FROM pu GROUP BY ea, eb
ORDER BY n_users DESC, ea, eb LIMIT {SEQ_TOPK}
"""


ORACLE["events_seq_pattern_support"] = _seq_pattern_oracle()


FDR_ALPHA = 0.1  # Benjamini-Hochberg target false-discovery rate


def ab_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a metric battery — the
    multiple-testing gate every experimentation platform runs when a
    dashboard fires dozens of tests at once (at α=0.05 per test, a
    35-cell battery produces ~2 false positives per experiment by
    construction; BH caps the EXPECTED false-discovery proportion at
    {FDR_ALPHA} instead). Battery: per (event_type, ISO weekday), a
    Welch z on event value between the two hash arms; p = 2(1−Φ(|z|))
    via the A&S erf polynomial (identical arithmetic both engines,
    the ``ab_bayesian_beta`` discipline). BH: rank p ascending,
    q_i = min_{{j≥i}} p_j·m/j (reversed running min, capped at 1),
    reject at q ≤ {FDR_ALPHA}.

    Scale shape: ONE partial-combined aggregation over (type, dow,
    arm) — a ~70-row key space at any data volume — then the battery
    arithmetic on that bounded frame; the BH sort is a window over
    the m≈35-row battery via ``single_partition`` (provably bounded,
    no data-sized global sort). p-values are grid-snapped at 1e-9
    BEFORE ranking so cross-engine rank order is summation-order-
    proof; m is computed in-frame (count over the battery), so cells
    missing an arm drop out consistently. Degenerate cells (an arm
    with n≤1 makes var_samp NULL; two zero-variance equal-mean arms
    make z 0/0) are filtered with the SAME finite-z predicate in
    both engines — Spark orders NULL p first, DuckDB last, so a
    NULL/NaN p surviving to the rank window would silently shift
    every rank/q-value across engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.weekday("ts") + 1).alias("dow"),  # == DuckDB isodow: 1=Mon
        (F.col("user_id") % 2).cast("int").alias("arm"),
        "value",
    )
    g = ev.groupBy("event_type", "dow", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = g.filter(F.col("arm") == 0).select(
        "event_type", "dow",
        F.col("n").alias("n0"), F.col("m").alias("m0"), F.col("v").alias("v0"),
    )
    b = g.filter(F.col("arm") == 1).select(
        "event_type", "dow",
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1"),
    )
    z = (F.col("m1") - F.col("m0")) / F.sqrt(
        F.col("v1") / F.col("n1") + F.col("v0") / F.col("n0")
    )
    tests = (
        a.join(b, ["event_type", "dow"])
        # finite-z guard (same predicate in the oracle): n>1 per arm so
        # var_samp is defined, pooled SE > 0 so z is never 0/0
        .filter(
            (F.col("n0") > 1)
            & (F.col("n1") > 1)
            & (F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1") > 0)
        )
        .select(
            "event_type",
            "dow",
            fround(z, 4).alias("z"),
            fround(F.lit(2.0) * (F.lit(1.0) - _phi(F.abs(z))), 9).alias("p"),
        )
    )
    tests1, wrank = single_partition(tests, by=[F.col("p"), F.col("event_type"), F.col("dow")])
    wm = W.partitionBy(F.spark_partition_id())
    wrev = (
        W.partitionBy(F.spark_partition_id())
        .orderBy(F.col("rk").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = tests1.select(
        "event_type",
        "dow",
        "z",
        "p",
        F.row_number().over(wrank).alias("rk"),
        F.count(F.lit(1)).over(wm).alias("m_tests"),
    )
    qraw = F.col("p") * F.col("m_tests") / F.col("rk")
    return (
        ranked.withColumn("qraw", qraw)
        .withColumn("q", F.least(F.min("qraw").over(wrev), F.lit(1.0)))
        .select(
            "event_type",
            "dow",
            "z",
            fround("p", 6).alias("p_value"),
            fround("q", 6).alias("q_value"),
            (F.col("q") <= FDR_ALPHA).alias("rejected"),
            F.col("rk").alias("rank"),
            F.col("m_tests"),
        )
        .orderBy("rank")
    )


ab_fdr_bh.__doc__ = ab_fdr_bh.__doc__.format(FDR_ALPHA=FDR_ALPHA)


def _fdr_bh_oracle() -> str:
    z = "((m1 - m0) / sqrt(v1 / n1 + v0 / n0))"
    p = f"(2.0 * (1.0 - {_phi_sql(f'abs({z})')}))"
    return f"""
WITH ev AS (
  SELECT event_type, isodow(ts) AS dow,
         CAST(user_id % 2 AS INT) AS arm, value
  FROM events
),
g AS (
  SELECT event_type, dow, arm, count(*) AS n, avg(value) AS m,
         var_samp(value) AS v
  FROM ev GROUP BY 1, 2, 3
),
tests AS (
  SELECT a.event_type, a.dow,
         {fround_sql(z.replace('m1', 'b.m').replace('m0', 'a.m')
                      .replace('v1', 'b.v').replace('v0', 'a.v')
                      .replace('n1', 'b.n').replace('n0', 'a.n'), 4)} AS z,
         {fround_sql(p.replace('m1', 'b.m').replace('m0', 'a.m')
                      .replace('v1', 'b.v').replace('v0', 'a.v')
                      .replace('n1', 'b.n').replace('n0', 'a.n'), 9)} AS p
  FROM g a JOIN g b
    ON b.event_type = a.event_type AND b.dow = a.dow
   AND a.arm = 0 AND b.arm = 1
  WHERE a.n > 1 AND b.n > 1 AND (a.v / a.n + b.v / b.n) > 0
),
ranked AS (
  SELECT event_type, dow, z, p,
         row_number() OVER (ORDER BY p, event_type, dow) AS rk,
         count(*) OVER () AS m_tests
  FROM tests
),
bh AS (
  SELECT event_type, dow, z, p, rk, m_tests,
         least(min(p * m_tests / rk)
                 OVER (ORDER BY rk DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               1.0) AS q
  FROM ranked
)
SELECT event_type, CAST(dow AS INT) AS dow, z,
       {fround_sql("p", 6)} AS p_value,
       {fround_sql("q", 6)} AS q_value,
       q <= {FDR_ALPHA} AS rejected,
       CAST(rk AS INT) AS rank, CAST(m_tests AS BIGINT) AS m_tests
FROM bh ORDER BY rank
"""


ORACLE["ab_fdr_bh"] = _fdr_bh_oracle()


CEM_BIN_W = 10  # activity-coarsening width (events per bin)
CEM_BIN_CAP = 9  # top bin collapses the activity tail


def events_cem_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened Exact Matching ATT (Iacus, King & Porro 2012) — the
    observational sibling of the randomized readouts: when
    "treatment" is self-selected (here: the user's deterministic
    FIRST event is a signup — the organic signup-first cohort, ~20%
    of users), a raw treated-vs-control outcome diff confounds with
    activity (active users both hit any first-event type more evenly
    AND purchase more).
    CEM coarsens the confounder (total event count, width-{CEM_BIN_W}
    integer bins capped at {CEM_BIN_CAP}), keeps only strata with
    BOTH arms present, and estimates
    ATT = Σ_s (m_t_s / M_t) · (ȳ_treated,s − ȳ_control,s) — the
    within-stratum diffs weighted by the treated distribution.
    Output: one row per matched stratum (counts, means, diff, treated
    share) with the pruned-unit census and the ATT repeated as a
    summary column.

    Scale shape: one user-level aggregation (partial-combined, keyed
    on user_id), one |bins|×2-row stratum aggregate, and scalar
    arithmetic via a broadcast one-row frame — integer binning (no
    quantiles, no global sort), stratum means grid-snapped (fround 6)
    before any cross-engine-sensitive difference."""
    ev = load_table(spark, sf_dir, "events")
    wf = W.partitionBy("user_id").orderBy("ts", "event_id")
    first = (
        ev.select(
            "user_id",
            "event_type",
            F.row_number().over(wf).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            (F.col("event_type") == "signup").cast("int").alias("treated"),
        )
    )
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("y"),
    ).join(first, "user_id")
    binned = users.select(
        F.least(
            F.lit(CEM_BIN_CAP).cast("bigint"),
            F.floor(F.col("activity") / F.lit(CEM_BIN_W)),
        ).alias("bin"),
        "treated",
        "y",
    )
    strata = binned.groupBy("bin").agg(
        F.sum("treated").alias("n_t"),
        F.sum(F.lit(1) - F.col("treated")).alias("n_c"),
        fround(
            F.sum(F.when(F.col("treated") == 1, F.col("y"))) /
            F.sum("treated"),
            6,
        ).alias("y_t"),
        fround(
            F.sum(F.when(F.col("treated") == 0, F.col("y"))) /
            F.sum(F.lit(1) - F.col("treated")),
            6,
        ).alias("y_c"),
    )
    matched = strata.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    tot = F.broadcast(
        matched.agg(
            F.sum("n_t").alias("mt"),
            F.sum(F.col("n_t") * (F.col("y_t") - F.col("y_c"))).alias("wsum"),
        )
    )
    return (
        matched.crossJoin(tot)
        .select(
            "bin",
            F.col("n_t").alias("n_treated"),
            F.col("n_c").alias("n_control"),
            "y_t",
            "y_c",
            fround(F.col("y_t") - F.col("y_c"), 6).alias("diff"),
            fround(F.col("n_t") / F.col("mt"), 6).alias("w_treated"),
            fround(F.col("wsum") / F.col("mt"), 4).alias("att"),
        )
        .orderBy("bin")
    )


events_cem_att.__doc__ = events_cem_att.__doc__.format(
    CEM_BIN_W=CEM_BIN_W, CEM_BIN_CAP=CEM_BIN_CAP
)


ORACLE["events_cem_att"] = f"""
WITH first AS (
  SELECT user_id,
         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS treated
  FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
),
users AS (
  SELECT e.user_id, f.treated, count(*) AS activity,
         sum(CASE WHEN e.event_type = 'purchase' THEN e.value
                  ELSE 0.0 END) AS y
  FROM events e JOIN first f ON f.user_id = e.user_id
  GROUP BY 1, 2
),
binned AS (
  SELECT least({CEM_BIN_CAP}, activity // {CEM_BIN_W}) AS bin, treated, y
  FROM users
),
strata AS (
  SELECT bin,
         sum(treated) AS n_t,
         sum(1 - treated) AS n_c,
         {fround_sql(
             "sum(CASE WHEN treated = 1 THEN y END) / sum(treated)", 6
         )} AS y_t,
         {fround_sql(
             "sum(CASE WHEN treated = 0 THEN y END) / sum(1 - treated)", 6
         )} AS y_c
  FROM binned GROUP BY 1
),
matched AS (SELECT * FROM strata WHERE n_t > 0 AND n_c > 0),
tot AS (
  SELECT sum(n_t) AS mt, sum(n_t * (y_t - y_c)) AS wsum FROM matched
)
SELECT bin, CAST(n_t AS BIGINT) AS n_treated, CAST(n_c AS BIGINT) AS n_control,
       y_t, y_c,
       {fround_sql("y_t - y_c", 6)} AS diff,
       {fround_sql("n_t * 1.0 / mt", 6)} AS w_treated,
       {fround_sql("wsum / mt", 4)} AS att
FROM matched CROSS JOIN tot
ORDER BY bin
"""


QUERIES = {
    "events_cem_att": events_cem_att,
    "ab_fdr_bh": ab_fdr_bh,
    "events_seq_pattern_support": events_seq_pattern_support,
    "ab_sequential_obf": ab_sequential_obf,
    "events_markov_order2": events_markov_order2,
    "events_poisson_rate_test": events_poisson_rate_test,
    "survival_nelson_aalen": survival_nelson_aalen,
    "graph_bipartite_projection": graph_bipartite_projection,
    "events_user_activity_powerlaw": events_user_activity_powerlaw,
    "cohort_ltv_curve": cohort_ltv_curve,
    "events_entropy_rate": events_entropy_rate,
    "events_markov_stationary": events_markov_stationary,
    "sample_poisson_bootstrap": sample_poisson_bootstrap,
    "ab_cuped": ab_cuped,
    "events_dau_wau_mau": events_dau_wau_mau,
    "ab_srm_audit": ab_srm_audit,
    "events_cumulative_uniques": events_cumulative_uniques,
    "funnel_negative_pattern": funnel_negative_pattern,
    "event_attribution": event_attribution,
    "time_in_state": time_in_state,
    "ab_welch_ttest": ab_welch_ttest,
    "ab_bayesian_beta": ab_bayesian_beta,
    "cohort_retention": cohort_retention,
    "events_retention_decay_fit": events_retention_decay_fit,
    "survival_kaplan_meier": survival_kaplan_meier,
    "events_anova_oneway": events_anova_oneway,
    "events_diff_in_diff": events_diff_in_diff,
    "ab_power_analysis": ab_power_analysis,
    "funnel_conversion": funnel_conversion,
    "funnel_time_bounded": funnel_time_bounded,
    "event_path_analysis": event_path_analysis,
    "markov_transitions": markov_transitions,
    "scd2_compress_states": scd2_compress_states,
}
