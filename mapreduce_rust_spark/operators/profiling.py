"""Data profiling: the one-pass per-column statistics report a
pipeline runs before trusting (or training on) a table.

Single aggregation over the table — every statistic is algebraic, so
map-side partial aggregation reduces the shuffle to one row per
partition regardless of input size; count_distinct plans its own
expand internally. Output is long-form (one row per profiled column)
so downstream checks can join against expectation tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.functions.text import hash64, hash64_sql
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-form numeric profile: (column, n, n_null, n_distinct,
    min_v, max_v, avg_v) per requested column, computed in ONE
    aggregation pass over the table."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            fround(F.min(F.col(c).cast("double")), 4).alias(f"{c}__mn"),
            fround(F.max(F.col(c).cast("double")), 4).alias(f"{c}__mx"),
            fround(F.avg(F.col(c).cast("double")), 4).alias(f"{c}__av"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__nn").alias("n_null"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__mn").alias("min_v"),
                F.col(f"{c}__mx").alias("max_v"),
                F.col(f"{c}__av").alias("avg_v"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_numeric(fan_out(load_table(spark, sf_dir, "lineitem")), _PROFILE_COLS)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
SELECT '{c}' AS column, count({c}) AS n,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT {c}) AS n_distinct,
       {fround_sql(f"min({c}::DOUBLE)", 4)} AS min_v,
       {fround_sql(f"max({c}::DOUBLE)", 4)} AS max_v,
       {fround_sql(f"avg({c}::DOUBLE)", 4)} AS avg_v
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


ORACLE["table_profile"] = _profile_oracle()

def value_histogram(
    df: DataFrame, col: str, bin_width: float
) -> DataFrame:
    """Fixed-width histogram: (bin, n, bin_lo) where bin =
    floor(value / bin_width). A FIXED literal width (not a
    data-dependent (max-min)/k) keeps the bin edges engine-independent:
    both engines divide the same stored double by the same literal and
    floor the identical quotient. One aggregation, shuffle keyed on
    the (small) bin id."""
    b = F.floor(F.col(col) / bin_width).cast("bigint")
    return (
        df.groupBy(b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("bin", "n", (F.col("bin") * bin_width).cast("double").alias("bin_lo"))
    )


def table_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return value_histogram(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice", 5000.0
    )


ORACLE["table_histogram"] = """
SELECT bin, count(*) AS n, CAST(bin * 5000.0 AS DOUBLE) AS bin_lo
FROM (
  SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bin
  FROM lineitem
) t
GROUP BY bin
"""

def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations, long-form (col_a, col_b, corr),
    upper triangle only. ALL pairs fold into ONE aggregation pass —
    corr is algebraic (co-moments), so map-side partials reduce the
    shuffle to one row per partition; cost is O(k²) per input row in
    the map phase, never a second scan."""
    aggs = []
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(fround(F.corr(a, b), 6).alias(f"{a}__{b}"))
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"{a}__{b}").alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select("r.*")


def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return correlation_matrix(
        fan_out(load_table(spark, sf_dir, "lineitem")), _PROFILE_COLS
    )


def _corr_oracle() -> str:
    parts = []
    cols = _PROFILE_COLS
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            parts.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"{fround_sql(f'corr({a}, {b})', 6)} AS corr FROM lineitem"
            )
    return "\nUNION ALL\n".join(parts)


ORACLE["corr_matrix"] = _corr_oracle()


def quantile_bin_counts(df: DataFrame, col: str, n_bins: int = 10) -> DataFrame:
    """Equal-frequency discretization: exact interpolated quantile
    boundaries (one aggregation), then each row's bin = number of
    boundaries ≤ value (array expression against the broadcast 1-row
    boundary frame). Output: (bin, n, lo, hi) per occupied bin.

    NO global sort: a naive ``ntile(n) OVER (ORDER BY col)`` funnels
    the entire table through one range-sorted partition; this plan is
    two scan+agg passes with a broadcast in between — the shape that
    survives 100 TB. (Production at extreme scale swaps the exact
    percentile for approx_percentile and keeps the rest.)"""
    qs = [i / n_bins for i in range(1, n_bins)]
    # Snap interpolated boundaries to a 1e-4 grid (same fround recipe
    # both engines use) BEFORE binning: Spark's percentile() and
    # DuckDB's quantile_cont() interpolate with different arithmetic,
    # and a 1-ulp boundary difference flips a value sitting exactly on
    # it into the neighboring bin — ulp-insensitive only if the
    # boundaries themselves are grid-snapped first.
    bnds = df.agg(
        F.expr(
            f"transform(percentile({col}, array({', '.join(map(str, qs))})), "
            f"x -> {fround_sql('x', 4)})"
        ).alias("bnds")
    )
    binned = df.join(F.broadcast(bnds)).select(
        F.col(col).alias("v"),
        F.size(F.filter("bnds", lambda b: b <= F.col(col))).cast("bigint").alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fround(F.min("v"), 4).alias("lo"),
            fround(F.max("v"), 4).alias("hi"),
        )
        .orderBy("bin")
    )


def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quantile_bin_counts(
        fan_out(load_table(spark, sf_dir, "lineitem")), "l_extendedprice", 10
    )


ORACLE["quantile_bins"] = f"""
WITH b AS (
  SELECT list_transform(
           quantile_cont(l_extendedprice,
                         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
           x -> {fround_sql('x', 4)}) AS bnds
  FROM lineitem
),
binned AS (
  SELECT l_extendedprice AS v,
         len(list_filter(bnds, x -> x <= l_extendedprice)) AS bin
  FROM lineitem CROSS JOIN b
)
SELECT bin, count(*) AS n,
       {fround_sql("min(v)", 4)} AS lo,
       {fround_sql("max(v)", 4)} AS hi
FROM binned GROUP BY bin ORDER BY bin
"""


def zscore_outliers(df: DataFrame, group_col: str, val_col: str, z: float = 3.0) -> DataFrame:
    """Per-group z-score outlier profile: one tiny stats aggregate
    (mean/stddev per group) broadcast back onto the fact, then a
    single pass counts |z| > threshold and records the extremes.
    Two scans, zero fact-side shuffle beyond the final per-group agg
    — the screen-a-column-before-training data-quality primitive."""
    stats = df.groupBy(group_col).agg(
        F.avg(val_col).alias("_mu"), F.stddev_samp(val_col).alias("_sd")
    )
    zc = (F.col(val_col) - F.col("_mu")) / F.col("_sd")
    flagged = df.join(F.broadcast(stats), group_col).select(
        group_col, F.col(val_col).alias("v"), zc.alias("_z")
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.abs(F.col("_z")) > z, 1).otherwise(0)).alias("n_outliers"),
            fround(F.max(F.abs(F.col("_z"))), 4).alias("max_abs_z"),
        )
        .orderBy(group_col)
    )


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zscore_outliers(
        load_table(spark, sf_dir, "events"), "event_type", "value", 3.0
    )


ORACLE["anomaly_zscore"] = f"""
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY 1
)
SELECT e.event_type, count(*) AS n,
       CAST(sum(CASE WHEN abs((value - mu) / sd) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       {fround_sql("max(abs((value - mu) / sd))", 4)} AS max_abs_z
FROM events e JOIN stats USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screen per event type — the
    mean/stddev z-score's heavy-tail-safe sibling: median absolute
    deviation is unaffected by the outliers it is hunting. Three
    passes, each a per-group aggregate broadcast back onto the fact
    (medians → deviations → counts); the fact table itself never
    shuffles. Median and MAD are grid-snapped to 1e-4 in both engines
    (interpolated percentiles, see quantile_bin_counts)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr(fround_sql("percentile(value, 0.5)", 4)).alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.expr(fround_sql("percentile(abs(value - med), 0.5)", 4)).alias("mad")
    )
    # 1.4826 ≈ 1/Φ⁻¹(0.75) scales MAD to a stddev-consistent estimate
    thr = F.col("med") + 3.0 * 1.4826 * F.col("mad")
    low = F.col("med") - 3.0 * 1.4826 * F.col("mad")
    return (
        with_med.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(((F.col("value") > thr) | (F.col("value") < low)).cast("bigint")).alias(
                "n_outliers"
            ),
            fround(F.first("med"), 4).alias("med"),
            fround(F.first("mad"), 4).alias("mad"),
        )
        .orderBy("event_type")
    )


ORACLE["robust_mad_outliers"] = f"""
WITH med AS (
  SELECT event_type,
         {fround_sql("quantile_cont(value, 0.5)", 4)} AS med
  FROM events GROUP BY 1
),
mad AS (
  SELECT e.event_type,
         {fround_sql("quantile_cont(abs(value - med), 0.5)", 4)} AS mad
  FROM events e JOIN med USING (event_type) GROUP BY 1
)
SELECT e.event_type, count(*) AS n,
       CAST(sum(CASE WHEN value > med + 3.0 * 1.4826 * mad
                       OR value < med - 3.0 * 1.4826 * mad
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       {fround_sql("any_value(med)", 4)} AS med,
       {fround_sql("any_value(mad)", 4)} AS mad
FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def quality_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ / Great-Expectations-style CONSTRAINT audit — the gate a
    pipeline runs before publishing a table: primary-key uniqueness,
    referential integrity, value-range and non-null checks, one row
    per check with the violation count. Every check is either one
    algebraic aggregate over its table (map-side combined, one row
    out) or an anti-join against the referenced key set (nation
    broadcasts; the orders key side shuffles once — the same shape any
    FK validation needs at any scale). Long-form output so expectation
    tables can join on check_name."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    docs = load_table(spark, sf_dir, "documents")
    ev = load_table(spark, sf_dir, "events")

    def report(name, n_checked, n_violations):
        return F.struct(
            F.lit(name).alias("check_name"),
            n_checked.cast("bigint").alias("n_checked"),
            n_violations.cast("bigint").alias("n_violations"),
        )

    checks = [
        orders.agg(
            report(
                "orders_pk_unique",
                F.count(F.lit(1)),
                F.count(F.lit(1)) - F.countDistinct("o_orderkey"),
            ).alias("r")
        ),
        orders.agg(
            report(
                "orders_totalprice_nonneg",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)),
            ).alias("r")
        ),
        li.agg(
            report(
                "lineitem_qty_range_1_50",
                F.count(F.lit(1)),
                F.sum(
                    F.when(
                        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                    ).otherwise(0)
                ),
            ).alias("r")
        ),
        # FK checks via LEFT join + count-of-null-match, so n_checked
        # is the number of rows actually checked (the full child
        # table), not the violation count an anti-join would report.
        li.join(
            orders.select("o_orderkey").distinct(),
            li["l_orderkey"] == F.col("o_orderkey"),
            "left",
        ).agg(
            report(
                "lineitem_fk_orders",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)),
            ).alias("r")
        ),
        cust.join(
            F.broadcast(nation.select("n_nationkey")),
            cust["c_nationkey"] == F.col("n_nationkey"),
            "left",
        ).agg(
            report(
                "customer_fk_nation",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("n_nationkey").isNull(), 1).otherwise(0)),
            ).alias("r")
        ),
        docs.agg(
            report(
                "documents_text_nonempty",
                F.count(F.lit(1)),
                F.sum(
                    F.when(
                        F.col("text").isNull() | (F.trim("text") == ""), 1
                    ).otherwise(0)
                ),
            ).alias("r")
        ),
        ev.agg(
            report(
                "events_ts_nonnull",
                F.count(F.lit(1)),
                F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)),
            ).alias("r")
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.select(
        F.col("r.check_name").alias("check_name"),
        F.col("r.n_checked").alias("n_checked"),
        F.col("r.n_violations").alias("n_violations"),
        (F.col("r.n_violations") == 0).cast("int").alias("ok"),
    ).orderBy("check_name")


ORACLE["quality_constraint_audit"] = """
WITH checks AS (
  SELECT 'orders_pk_unique' AS check_name, count(*) AS n_checked,
         count(*) - count(DISTINCT o_orderkey) AS n_violations FROM orders
  UNION ALL
  SELECT 'orders_totalprice_nonneg', count(*),
         sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) FROM orders
  UNION ALL
  SELECT 'lineitem_qty_range_1_50', count(*),
         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_fk_orders', count(*),
         sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'customer_fk_nation', count(*),
         sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
  UNION ALL
  SELECT 'documents_text_nonempty', count(*),
         sum(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 ELSE 0 END)
  FROM documents
  UNION ALL
  SELECT 'events_ts_nonnull', count(*),
         sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) FROM events
)
SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n_violations = 0 AS INT) AS ok
FROM checks ORDER BY check_name
"""


K_ANON_K = 5


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over the customer table's
    quasi-identifier tuple (nation, market segment, account-balance
    band): every QI equivalence class with its size and whether it
    meets k ≥ {K_ANON_K} — the re-identification-risk report a
    pipeline runs before releasing micro-data or joining user-level
    training data. Classes below k are the rows to suppress or
    generalize. One hash aggregation on the QI key — the same single
    shuffle any 100 TB group-by takes; band width is the
    generalization knob."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("acctbal_band"),
    )
    return (
        qi.groupBy("nationkey", "mktsegment", "acctbal_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "nationkey",
            "mktsegment",
            "acctbal_band",
            "class_size",
            (F.col("class_size") >= K_ANON_K).cast("int").alias("is_k_anonymous"),
        )
        .orderBy("nationkey", "mktsegment", "acctbal_band")
    )


ORACLE["privacy_k_anonymity"] = f"""
SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
       count(*) AS class_size,
       CAST(count(*) >= {K_ANON_K} AS INT) AS is_k_anonymous
FROM customer
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


L_DIVERSITY_L = 3


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007) — the
    follow-up k-anonymity needs: a QI class can be large (k-anonymous)
    yet leak its sensitive attribute if every member shares the same
    value. Per QI class (nation, market segment): size, number of
    DISTINCT sensitive values (account-balance band), and whether it
    meets l ≥ {L_DIVERSITY_L}. Same single hash aggregation as the
    k-anonymity audit, with a count-distinct on the sensitive column."""
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sensitive_band"),
    )
    return (
        qi.groupBy("nationkey", "mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("sensitive_band").alias("n_sensitive_values"),
        )
        .select(
            "nationkey",
            "mktsegment",
            "class_size",
            "n_sensitive_values",
            (F.col("n_sensitive_values") >= L_DIVERSITY_L)
            .cast("int")
            .alias("is_l_diverse"),
        )
        .orderBy("nationkey", "mktsegment")
    )


ORACLE["privacy_l_diversity"] = f"""
SELECT c_nationkey AS nationkey, c_mktsegment AS mktsegment,
       count(*) AS class_size,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
         AS n_sensitive_values,
       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
            >= {L_DIVERSITY_L} AS INT) AS is_l_diverse
FROM customer
GROUP BY 1, 2
ORDER BY 1, 2
"""


DP_EPSILON = 1.0  # privacy budget for the sensitivity-1 count release
EM_EPSILON = 0.5  # budget for the exponential-mechanism selection


def privacy_dp_exponential_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP SELECTION via the exponential mechanism (McSherry & Talwar
    2007): per event type, release the busiest hour-of-day WITHOUT
    releasing the counts — P(h) ∝ exp(ε·u(h)/2Δ) with utility
    u = hourly count, Δ = 1. Sampling uses the Gumbel-max trick
    (argmax of ε·u/2Δ + Gumbel noise IS an exponential-mechanism
    draw), with the Gumbel built by inverse-CDF over an md5-derived
    uniform — deterministic like ``privacy_dp_counts``, so the DuckDB
    oracle replays the released choice bit-for-bit; a production
    release swaps in a real RNG without touching the shape. One
    partial-aggregated shuffle to the (type × 24)-cell grid, argmax
    via a window partitioned by type on that bounded frame. The audit
    view emits the true argmax beside the released one — the utility
    loss the privacy budget buys."""
    ev = load_table(spark, sf_dir, "events")
    grid = ev.groupBy(
        "event_type", F.hour("ts").alias("hh")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    u = hash64(
        F.concat(F.lit("em:"), F.col("event_type"), F.lit(":"), F.col("hh").cast("string"))
    ).cast("double") / F.lit(float(2**60))
    gumbel = -F.log(-F.log(F.greatest(F.lit(1e-15), u)))
    scored = grid.withColumn(
        "score", F.lit(EM_EPSILON / 2.0) * F.col("cnt") + gumbel
    )
    w = W.partitionBy("event_type").orderBy(F.desc("score"), "hh")
    wt = W.partitionBy("event_type").orderBy(F.desc("cnt"), "hh")
    return (
        scored.withColumn("r", F.row_number().over(w))
        .withColumn("rt", F.row_number().over(wt))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("r") == 1, F.col("hh"))).alias("released_hour"),
            F.max(F.when(F.col("rt") == 1, F.col("hh"))).alias("true_best_hour"),
            F.max(F.when(F.col("rt") == 1, F.col("cnt"))).alias("true_best_cnt"),
            F.max(F.when(F.col("r") == 1, F.col("cnt"))).alias("released_cnt"),
            fround(F.max(F.when(F.col("r") == 1, F.col("score"))), 4).alias(
                "released_score"
            ),
        )
        .orderBy("event_type")
    )


ORACLE["privacy_dp_exponential_topk"] = f"""
WITH grid AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hh,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hh, cnt,
         {EM_EPSILON / 2.0} * cnt
           - ln(-ln(greatest(1e-15,
               {hash64_sql("'em:' || event_type || ':' || CAST(hh AS VARCHAR)")}
               / CAST({float(2**60)} AS DOUBLE)))) AS score
  FROM grid
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY score DESC, hh) AS r,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cnt DESC, hh) AS rt
  FROM scored
)
SELECT event_type,
       CAST(max(CASE WHEN r = 1 THEN hh END) AS INT) AS released_hour,
       CAST(max(CASE WHEN rt = 1 THEN hh END) AS INT) AS true_best_hour,
       CAST(max(CASE WHEN rt = 1 THEN cnt END) AS BIGINT) AS true_best_cnt,
       CAST(max(CASE WHEN r = 1 THEN cnt END) AS BIGINT) AS released_cnt,
       {fround_sql("max(CASE WHEN r = 1 THEN score END)", 4)}
         AS released_score
FROM ranked GROUP BY event_type ORDER BY event_type
"""


def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Dwork et al. 2006): the
    per-event-type histogram with Laplace(Δ/ε) noise, Δ=1 (one user
    event changes one count by one), ε={eps}. The noise is drawn by
    INVERSE-CDF over a uniform DERIVED FROM md5 of the release key —
    deterministic on purpose, so the DuckDB oracle reproduces the
    released values bit-for-bit and the mechanism's plumbing
    (sensitivity bookkeeping, per-key noise, post-processing rounding)
    is value-checked end-to-end. A production release would substitute
    a real RNG for the hash draw — one line — without touching the
    aggregation shape, which is a single partial-aggregated shuffle on
    |event types| keys at any scale. Released count = true + noise;
    the true count is also emitted (this is the AUDIT view of the
    mechanism, not the public artifact)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("event_type").alias("k")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    # uniform in [0,1) from 60 hash bits; shift to (-0.5, 0.5]
    u = hash64(F.concat(F.lit("dp:"), F.col("k"))).cast("double") / F.lit(float(2**60))
    s = u - F.lit(0.5)
    b = 1.0 / DP_EPSILON
    noise = (
        -F.lit(b)
        * F.signum(s)
        * F.log(F.greatest(F.lit(1e-15), F.lit(1.0) - F.lit(2.0) * F.abs(s)))
    )
    return counts.select(
        F.col("k").alias("event_type"),
        "true_cnt",
        fround(noise, 4).alias("noise"),
        fround(F.col("true_cnt") + noise, 4).alias("released_cnt"),
    ).orderBy("event_type")


privacy_dp_counts.__doc__ = privacy_dp_counts.__doc__.format(eps=DP_EPSILON)


ORACLE["privacy_dp_counts"] = f"""
WITH counts AS (
  SELECT event_type AS k, count(*) AS true_cnt FROM events GROUP BY 1
),
noised AS (
  SELECT k, true_cnt,
         ({hash64_sql("'dp:' || k")}
            / CAST({float(2**60)} AS DOUBLE)) - 0.5 AS s
  FROM counts
)
SELECT k AS event_type, true_cnt,
       {fround_sql(
           f"-(1.0 / {DP_EPSILON}) * sign(s)"
           " * ln(greatest(1e-15, 1.0 - 2.0 * abs(s)))", 4)} AS noise,
       {fround_sql(
           f"true_cnt + (-(1.0 / {DP_EPSILON}) * sign(s)"
           " * ln(greatest(1e-15, 1.0 - 2.0 * abs(s))))", 4)} AS released_cnt
FROM noised
ORDER BY 1
"""


DP_CLIP = 5.0  # per-record contribution bound for the sum release


def privacy_dp_sum_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private SUM release with per-record CLIPPING —
    the other half of the DP toolkit next to ``privacy_dp_counts``:
    an unbounded value has unbounded sensitivity, so each record's
    contribution is clamped to [0, {clip}] first, making Δ = {clip}
    and the Laplace scale Δ/ε. The report shows the clipping cost
    explicitly (n_clipped, true vs clipped sum) because budget owners
    trade bias (clip low) against noise (clip high) — the decision
    this artifact exists to inform. Same md5-seeded inverse-CDF draw
    as the count release (deterministic so the oracle value-checks
    the whole clamp→sum→noise→release pipeline); same scale shape:
    one partial-aggregated shuffle on |event types| keys."""
    ev = load_table(spark, sf_dir, "events")
    clipped = F.least(F.greatest(F.col("value"), F.lit(0.0)), F.lit(DP_CLIP))
    agg = ev.groupBy(F.col("event_type").alias("k")).agg(
        F.sum("value").alias("true_sum"),
        F.sum(clipped).alias("clip_sum"),
        F.sum((F.col("value") > DP_CLIP).cast("bigint")).alias("n_clipped"),
    )
    u = hash64(F.concat(F.lit("dpsum:"), F.col("k"))).cast("double") / F.lit(float(2**60))
    s = u - F.lit(0.5)
    b = DP_CLIP / DP_EPSILON
    noise = (
        -F.lit(b)
        * F.signum(s)
        * F.log(F.greatest(F.lit(1e-15), F.lit(1.0) - F.lit(2.0) * F.abs(s)))
    )
    return agg.select(
        F.col("k").alias("event_type"),
        fround("true_sum", 2).alias("true_sum"),
        fround("clip_sum", 2).alias("clipped_sum"),
        "n_clipped",
        fround(noise, 4).alias("noise"),
        fround(F.col("clip_sum") + noise, 2).alias("released_sum"),
    ).orderBy("event_type")


privacy_dp_sum_clipped.__doc__ = privacy_dp_sum_clipped.__doc__.format(
    clip=DP_CLIP
)


ORACLE["privacy_dp_sum_clipped"] = f"""
WITH agg AS (
  SELECT event_type AS k,
         sum(value) AS true_sum,
         sum(least(greatest(value, 0.0), {DP_CLIP})) AS clip_sum,
         CAST(sum(CASE WHEN value > {DP_CLIP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped
  FROM events GROUP BY 1
),
noised AS (
  SELECT k, true_sum, clip_sum, n_clipped,
         ({hash64_sql("'dpsum:' || k")}
            / CAST({float(2**60)} AS DOUBLE)) - 0.5 AS s
  FROM agg
)
SELECT k AS event_type,
       {fround_sql('true_sum', 2)} AS true_sum,
       {fround_sql('clip_sum', 2)} AS clipped_sum,
       n_clipped,
       {fround_sql(
           f"-({DP_CLIP} / {DP_EPSILON}) * sign(s)"
           " * ln(greatest(1e-15, 1.0 - 2.0 * abs(s)))", 4)} AS noise,
       {fround_sql(
           f"clip_sum + (-({DP_CLIP} / {DP_EPSILON}) * sign(s)"
           " * ln(greatest(1e-15, 1.0 - 2.0 * abs(s))))", 2)} AS released_sum
FROM noised
ORDER BY 1
"""


KS_ALPHA_C = 1.358  # c(α) for the α=0.05 two-sample KS critical value


def table_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type — the
    EXACT-TEST sibling of ``table_drift_psi``: D = max |F₁(v) − F₂(v)|
    between the first and second half of the observation window, with
    the α=0.05 critical value c(α)·√((n₁+n₂)/(n₁n₂)) and a drift
    flag per type. The ECDFs are compared on the integer-quantized
    value grid (floor(value)) — the streaming-KS standard: the grid
    is bounded by the VALUE DOMAIN, not the row count, so the
    per-type cumulative window runs on a provably-bounded frame at
    any scale (the same bounded-grid argument as the PSI bins; raw
    per-row ECDFs would put a data-sized window behind a 5-key
    partition). One partial-aggregated shuffle on (type, grid cell),
    then window arithmetic on the grid."""
    ev = load_table(spark, sf_dir, "events")
    lo = ev.agg(F.min(F.date_trunc("day", "ts")).alias("d0"))
    g = (
        ev.crossJoin(F.broadcast(lo))
        .select(
            "event_type",
            (
                F.datediff(F.date_trunc("day", "ts"), "d0") < 15
            ).cast("int").alias("early"),
            F.floor("value").cast("bigint").alias("gv"),
        )
        .groupBy("event_type", "gv")
        .agg(
            F.sum("early").alias("c1"),
            F.sum(F.lit(1) - F.col("early")).alias("c2"),
        )
    )
    wt = W.partitionBy("event_type")
    wc = wt.orderBy("gv").rowsBetween(W.unboundedPreceding, 0)
    curves = (
        g.withColumn("t1", F.sum("c1").over(wt))
        .withColumn("t2", F.sum("c2").over(wt))
        # ANSI guard: a type with an empty half has no defined ECDF —
        # such types are excluded below (identical rule in the oracle)
        .withColumn(
            "f1",
            F.when(F.col("t1") > 0, F.sum("c1").over(wc) / F.col("t1")),
        )
        .withColumn(
            "f2",
            F.when(F.col("t2") > 0, F.sum("c2").over(wc) / F.col("t2")),
        )
    )
    return (
        curves.filter((F.col("t1") > 0) & (F.col("t2") > 0))
        .groupBy("event_type")
        .agg(
            F.first("t1").alias("n1"),
            F.first("t2").alias("n2"),
            F.max(F.abs(F.col("f1") - F.col("f2"))).alias("d_raw"),
        )
        .select(
            "event_type",
            "n1",
            "n2",
            fround("d_raw", 6).alias("ks_d"),
            # cast BEFORE multiplying: n1*n2 in bigint overflows int64
            # (ANSI throw) past ~3e9 rows per half — the exact scale
            # this statistic is meant to survive; mirrors the oracle's
            # n1 * 1.0 * n2
            fround(
                F.lit(KS_ALPHA_C)
                * F.sqrt(
                    (F.col("n1") + F.col("n2"))
                    / (F.col("n1").cast("double") * F.col("n2").cast("double"))
                ),
                6,
            ).alias("ks_crit"),
            (
                F.col("d_raw")
                > F.lit(KS_ALPHA_C)
                * F.sqrt(
                    (F.col("n1") + F.col("n2"))
                    / (F.col("n1").cast("double") * F.col("n2").cast("double"))
                )
            ).alias("drift"),
        )
        .orderBy("event_type")
    )


ORACLE["table_ks_drift"] = f"""
WITH lo AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
g AS (
  SELECT event_type,
         CAST(sum(CASE WHEN date_diff('day', lo.d0,
                                      date_trunc('day', ts)) < 15
                       THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN date_diff('day', lo.d0,
                                      date_trunc('day', ts)) < 15
                       THEN 0 ELSE 1 END) AS BIGINT) AS c2,
         CAST(floor(value) AS BIGINT) AS gv
  FROM events, lo GROUP BY event_type, gv
),
curves AS (
  SELECT event_type, gv, c1, c2,
         sum(c1) OVER (PARTITION BY event_type) AS t1,
         sum(c2) OVER (PARTITION BY event_type) AS t2,
         sum(c1) OVER (PARTITION BY event_type ORDER BY gv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum1,
         sum(c2) OVER (PARTITION BY event_type ORDER BY gv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum2
  FROM g
),
agg AS (
  SELECT event_type, CAST(max(t1) AS BIGINT) AS n1,
         CAST(max(t2) AS BIGINT) AS n2,
         max(abs(cum1 * 1.0 / t1 - cum2 * 1.0 / t2)) AS d_raw
  FROM curves WHERE t1 > 0 AND t2 > 0 GROUP BY event_type
)
SELECT event_type, n1, n2,
       {fround_sql("d_raw", 6)} AS ks_d,
       {fround_sql(f"{KS_ALPHA_C} * sqrt((n1 + n2) / (n1 * 1.0 * n2))", 6)}
         AS ks_crit,
       d_raw > {KS_ALPHA_C} * sqrt((n1 + n2) / (n1 * 1.0 * n2)) AS drift
FROM agg ORDER BY event_type
"""


PSI_BINS = 10


def table_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two data slices — the
    tabular-feature drift metric (scorecard/feature-monitoring
    standard): bin the metric, compare the two slices' bin shares p,q
    with PSI = Σ (p−q)·ln(p/q); rule-of-thumb alerts at 0.1 (drift)
    and 0.25 (major shift). Slices here are the deterministic
    even/odd event split (the embedding twin is
    ``embedding_centroid_drift``); bins are FIXED width (unit-wide on
    ``value``) so edges are engine-independent, and shares are
    +1-smoothed so ln() is total even for empty bins. Two
    partial-aggregatable histogram passes over disjoint slices → a
    |bins|-sized join; nothing row-sized survives the first
    aggregation. Per-bin contributions are emitted (the 'which
    feature range moved' diagnostic), not just the scalar."""
    ev = load_table(spark, sf_dir, "events")
    half = (F.col("event_id") % 2).alias("half")
    binc = F.least(
        F.greatest(F.floor("value").cast("int"), F.lit(0)), F.lit(PSI_BINS - 1)
    ).alias("bin")
    counts = ev.select(half, binc).groupBy("half", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    # explicit bin spine: +1 smoothing must cover bins EMPTY on one
    # side (that is the whole point of smoothing), so every bin gets
    # a row per half before shares are formed
    spine = spark.range(PSI_BINS).select(F.col("id").cast("int").alias("bin"))

    def side(h, n_name, s_name):
        cnt = counts.filter(F.col("half") == h).select("bin", "n")
        tot = cnt.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("tot"))
        return (
            spine.join(cnt, "bin", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "bin",
                F.coalesce("n", F.lit(0)).alias(n_name),
                (
                    (F.coalesce("n", F.lit(0)) + 1)
                    / (F.col("tot") + PSI_BINS).cast("double")
                ).alias(s_name),
            )
        )

    ref = side(0, "n_ref", "p")
    cur = side(1, "n_cur", "q")
    return (
        ref.join(cur, "bin")
        .select(
            "bin",
            "n_ref",
            "n_cur",
            fround(
                (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6
            ).alias("psi_term"),
        )
        .orderBy("bin")
    )


ORACLE["table_drift_psi"] = f"""
WITH counts AS (
  SELECT event_id % 2 AS half,
         least(greatest(CAST(floor(value) AS INT), 0), {PSI_BINS - 1}) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
spine AS (SELECT CAST(u.b AS INT) AS bin FROM unnest(range(0, {PSI_BINS})) u(b)),
ref AS (
  SELECT s.bin, coalesce(c.n, 0) AS n_ref,
         (coalesce(c.n, 0) + 1)
           / CAST((SELECT coalesce(sum(n), 0) FROM counts WHERE half = 0)
                  + {PSI_BINS} AS DOUBLE) AS p
  FROM spine s LEFT JOIN (SELECT bin, n FROM counts WHERE half = 0) c USING (bin)
),
cur AS (
  SELECT s.bin, coalesce(c.n, 0) AS n_cur,
         (coalesce(c.n, 0) + 1)
           / CAST((SELECT coalesce(sum(n), 0) FROM counts WHERE half = 1)
                  + {PSI_BINS} AS DOUBLE) AS q
  FROM spine s LEFT JOIN (SELECT bin, n FROM counts WHERE half = 1) c USING (bin)
)
SELECT bin,
       CAST(n_ref AS BIGINT) AS n_ref,
       CAST(n_cur AS BIGINT) AS n_cur,
       {fround_sql('(p - q) * ln(p / q)', 6)} AS psi_term
FROM ref JOIN cur USING (bin)
ORDER BY bin
"""


def table_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKETCH-based profile — what ``table_profile`` becomes when
    the table is 100 TB: exact countDistinct plans an expand per
    column (k× the scan) and exact percentile holds every value;
    HLL++ distinct and a t-digest-style approx median are one
    constant-memory pass. Contract surface as in ``approx_distinct``:
    the oracle-checkable columns are the EXACT statistics plus
    booleans asserting each sketch landed inside its error budget —
    HLL within 3×rsd, and the approx median's exact rank straddling
    0.5 within ±0.01 (accuracy 1000 → rank error 0.001; the band is
    10× that so integer-tied columns stay stable). A sketch wiring
    regression flips a boolean and fails the value hash. Two passes:
    sketch pass, then one rank-audit aggregation against the
    broadcast 1-row estimates."""
    df = fan_out(load_table(spark, sf_dir, "lineitem"))
    est = df.agg(
        *[
            F.approx_count_distinct(c, rsd=0.05).alias(f"{c}__ad")
            for c in _PROFILE_COLS
        ],
        *[
            F.expr(f"approx_percentile({c}, 0.5, 1000)").alias(f"{c}__p50")
            for c in _PROFILE_COLS
        ],
    )
    audit_aggs = []
    for c in _PROFILE_COLS:
        audit_aggs += [
            F.count(c).alias(f"{c}__n"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.sum((F.col(c) < F.col(f"{c}__p50")).cast("bigint")).alias(
                f"{c}__nlt"
            ),
            F.sum((F.col(c) <= F.col(f"{c}__p50")).cast("bigint")).alias(
                f"{c}__nle"
            ),
        ]
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__nd").alias("exact_distinct"),
                (
                    F.abs(
                        F.col(f"{c}__ad").cast("double")
                        - F.col(f"{c}__nd").cast("double")
                    )
                    <= F.lit(0.15) * F.col(f"{c}__nd").cast("double")
                ).alias("distinct_within_tol"),
                (
                    (
                        F.col(f"{c}__nlt").cast("double")
                        <= F.lit(0.51) * F.col(f"{c}__n").cast("double")
                    )
                    & (
                        F.col(f"{c}__nle").cast("double")
                        >= F.lit(0.49) * F.col(f"{c}__n").cast("double")
                    )
                ).alias("median_rank_ok"),
            )
            for c in _PROFILE_COLS
        ]
    )
    # the est row must survive into the struct projection
    wide = df.crossJoin(F.broadcast(est)).agg(
        *audit_aggs,
        *[F.first(f"{c}__ad").alias(f"{c}__ad") for c in _PROFILE_COLS],
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("column")
    )


def _sketch_profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        parts.append(f"""
SELECT '{c}' AS column, count({c}) AS n,
       count(DISTINCT {c}) AS exact_distinct,
       true AS distinct_within_tol,
       true AS median_rank_ok
FROM lineitem""")
    return "\nUNION ALL\n".join(parts) + '\nORDER BY "column"'


ORACLE["table_sketch_profile"] = _sketch_profile_oracle()


_FD_CANDIDATES: tuple[tuple[str, str, str], ...] = (
    ("nation", "n_nationkey", "n_name"),
    ("nation", "n_regionkey", "n_name"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_returnflag"),
)


def table_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY audit (Metanome-style profiling): for
    each candidate ``lhs → rhs``, does every lhs value map to exactly
    one rhs value? The dependency census that finds denormalization
    opportunities, validates assumed invariants (key → attribute),
    and catches silent data corruption (a 'held' FD that starts
    violating). Per candidate: lhs group count, groups with >1
    distinct rhs, max rhs fan-out, and whether it holds — so a violated
    candidate shows HOW violated, not just a boolean. Each check is
    one two-level aggregation keyed on lhs (partial-aggregatable;
    the violating-group count is |lhs|-sized, never row-sized)."""
    from functools import reduce as _reduce

    outs = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        per = (
            load_table(spark, sf_dir, tbl)
            .groupBy(F.col(lhs))
            .agg(F.countDistinct(rhs).alias("n_rhs"))
        )
        outs.append(
            per.agg(
                F.count(F.lit(1)).alias("n_lhs_groups"),
                F.sum((F.col("n_rhs") > 1).cast("bigint")).alias(
                    "n_violating"
                ),
                F.max("n_rhs").cast("bigint").alias("max_fanout"),
            ).select(
                F.lit(tbl).alias("table_name"),
                F.lit(f"{lhs}->{rhs}").alias("candidate"),
                "n_lhs_groups",
                "n_violating",
                "max_fanout",
                (F.col("n_violating") == 0).alias("fd_holds"),
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs).orderBy(
        "table_name", "candidate"
    )


def _fd_oracle() -> str:
    parts = []
    for tbl, lhs, rhs in _FD_CANDIDATES:
        parts.append(f"""
SELECT '{tbl}' AS table_name, '{lhs}->{rhs}' AS candidate,
       CAST(count(*) AS BIGINT) AS n_lhs_groups,
       CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(max(n_rhs) AS BIGINT) AS max_fanout,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS n_rhs
      FROM {tbl} GROUP BY {lhs})""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY table_name, candidate"


ORACLE["table_fd_discovery"] = _fd_oracle()


# Name-heuristic FK candidates (child table/col → parent table/col):
# the standard profiling shortcut — generate candidates from naming
# conventions, then VERIFY each against the data. Verification, not
# the heuristic, is what the output reports.
_FK_CANDIDATES: list[tuple[str, str, str, str]] = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def table_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key/foreign-key discovery audit: for each name-heuristic FK
    candidate, measure what the DATA says — distinct child values,
    how many exist in the parent column (containment ratio; 1.0 =
    the inclusion dependency holds), and whether the parent column is
    unique (a real PK). This is the schema-inference pass a pipeline
    runs before trusting joins on an undocumented lake: per candidate
    it is two distinct-aggregations and one distinct-key semi-join —
    each the size of the KEY SPACE, not the fact table, and each
    independent (Spark runs the union's branches in parallel). No
    driver loop over data: the candidate list is static config."""
    out = None
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        child = load_table(spark, sf_dir, child_t).select(
            F.col(child_c).cast("bigint").alias("k")
        )
        parent = load_table(spark, sf_dir, parent_t).select(
            F.col(parent_c).cast("bigint").alias("k")
        )
        ckeys = child.distinct()
        pstats = parent.agg(
            F.count(F.lit(1)).alias("p_rows"),
            F.countDistinct("k").alias("p_distinct"),
        )
        row = (
            ckeys.join(parent.distinct(), "k", "left_semi")
            .agg(F.count(F.lit(1)).alias("n_contained"))
            .crossJoin(ckeys.agg(F.count(F.lit(1)).alias("n_child_distinct")))
            .crossJoin(pstats)
            .select(
                F.lit(f"{child_t}.{child_c}").alias("child_col"),
                F.lit(f"{parent_t}.{parent_c}").alias("parent_col"),
                "n_child_distinct",
                "n_contained",
                fround(
                    F.col("n_contained")
                    / F.col("n_child_distinct").cast("double"),
                    6,
                ).alias("containment"),
                (F.col("p_distinct") == F.col("p_rows"))
                .cast("int")
                .alias("parent_is_unique"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("child_col", "parent_col")


def _key_discovery_oracle() -> str:
    parts = []
    for child_t, child_c, parent_t, parent_c in _FK_CANDIDATES:
        parts.append(
            f"""
SELECT '{child_t}.{child_c}' AS child_col,
       '{parent_t}.{parent_c}' AS parent_col,
       (SELECT count(DISTINCT {child_c}) FROM {child_t}) AS n_child_distinct,
       (SELECT count(*) FROM (
          SELECT DISTINCT {child_c} FROM {child_t}
        ) c WHERE c.{child_c} IN (SELECT {parent_c} FROM {parent_t})
       ) AS n_contained,
       {fround_sql(
           f"(SELECT count(*) FROM (SELECT DISTINCT {child_c} FROM {child_t}) c"
           f" WHERE c.{child_c} IN (SELECT {parent_c} FROM {parent_t}))"
           f" / CAST((SELECT count(DISTINCT {child_c}) FROM {child_t}) AS DOUBLE)",
           6)} AS containment,
       CAST((SELECT count(DISTINCT {parent_c}) FROM {parent_t})
            = (SELECT count(*) FROM {parent_t}) AS INT) AS parent_is_unique
"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY child_col, parent_col"


ORACLE["table_key_discovery"] = _key_discovery_oracle()


_SKEW_SPECS: tuple[tuple[str, str], ...] = (
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
)


def table_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW ADVISORY: for every candidate join/aggregation
    key, the per-key row-count shape — key cardinality, hottest-key
    rows, hot-key share of the table, and skew_factor =
    max_per_key / mean_per_key (the multiple AQE's skew-join splitter
    thresholds on). This is the report you read BEFORE shipping a
    100 TB join: skew_factor near 1 → plain hash join; tens+ → salt
    the key or rely on AQE splitting (`skew_salted_join`). Each key
    costs one partial-aggregatable two-level count — no row ever
    leaves its executor unaggregated — and the final union is
    |keys| rows."""
    from functools import reduce as _reduce

    outs = []
    for tbl, col in _SKEW_SPECS:
        per = (
            load_table(spark, sf_dir, tbl)
            .groupBy(F.col(col))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        outs.append(
            per.agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("n").cast("bigint").alias("max_per_key"),
            ).select(
                F.lit(tbl).alias("table_name"),
                F.lit(col).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_per_key",
                fround(
                    F.col("n_rows") / F.col("n_keys").cast("double"), 6
                ).alias("mean_per_key"),
                fround(
                    F.col("max_per_key") / F.col("n_rows").cast("double"), 6
                ).alias("hot_share"),
                fround(
                    (F.col("max_per_key") * F.col("n_keys"))
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("skew_factor"),
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs).orderBy(
        "table_name", "key_col"
    )


def _skew_report_oracle() -> str:
    parts = []
    for tbl, col in _SKEW_SPECS:
        parts.append(f"""
SELECT '{tbl}' AS table_name, '{col}' AS key_col,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n) AS BIGINT) AS max_per_key,
       {fround_sql('sum(n) / CAST(count(*) AS DOUBLE)', 6)} AS mean_per_key,
       {fround_sql('max(n) / CAST(sum(n) AS DOUBLE)', 6)} AS hot_share,
       {fround_sql('(max(n) * count(*)) / CAST(sum(n) AS DOUBLE)', 6)} AS skew_factor
FROM (SELECT count(*) AS n FROM {tbl} GROUP BY {col})""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY table_name, key_col"


ORACLE["table_skew_report"] = _skew_report_oracle()


def table_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers / broken-ETL screen: observed leading-digit
    shares next to Benford's log10(1+1/d) expectation with per-digit
    absolute deviation. The leading digit is taken from the INTEGER
    cents (round(x·100) → bigint → string), never from double
    formatting, so both engines bucket identically. One groupBy over
    9 possible keys: map-side partials make the shuffle 9 rows per
    partition at any order count. (Synthetic uniform prices won't
    follow Benford — the AUDIT's numbers are what's value-checked;
    the deviation column is the alarm a real ledger would read.)"""
    orders = load_table(spark, sf_dir, "orders")
    digit = (
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .cast("string")
        .substr(1, 1)
        .cast("int")
    )
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    total = counts.agg(F.sum("n_orders").alias("t"))
    benford = F.log10(1 + 1 / F.col("digit").cast("double"))
    obs = F.col("n_orders") / F.col("t").cast("double")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_orders",
            fround(obs, 6).alias("obs_share"),
            fround(benford, 6).alias("benford_share"),
            fround(F.abs(obs - benford), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


ORACLE["table_benford_audit"] = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_orders
  FROM orders GROUP BY 1
),
total AS (SELECT CAST(sum(n_orders) AS BIGINT) AS t FROM counts)
SELECT digit, n_orders,
       {fround_sql("n_orders / CAST(t AS DOUBLE)", 6)} AS obs_share,
       {fround_sql("log10(1 + 1 / CAST(digit AS DOUBLE))", 6)}
         AS benford_share,
       {fround_sql(
           "abs(n_orders / CAST(t AS DOUBLE)"
           " - log10(1 + 1 / CAST(digit AS DOUBLE)))", 6
       )} AS abs_dev
FROM counts CROSS JOIN total
ORDER BY digit
"""


def table_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (market
    segment × nation) — the model-free dependence screen profilers
    run to find redundant or leaking columns (MI = 0 ⇔ independent;
    NMI near 1 ⇔ one column determines the other). MI, both
    entropies, and the normalized MI = MI/min(H_x, H_y) all derive
    from the JOINT distribution alone, so the plan is ONE hash
    aggregation into the |segments|×|nations| contingency table
    (bounded by category cardinalities, never rows) and pure
    arithmetic after: marginals re-aggregate the tiny joint frame.
    All natural-log, all-double arithmetic, identical on both
    engines."""
    cust = load_table(spark, sf_dir, "customer")
    joint = cust.groupBy(
        F.col("c_mktsegment").alias("x"), F.col("c_nationkey").alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    n = joint.agg(F.sum("c").alias("n"))
    jp = joint.crossJoin(F.broadcast(n)).select(
        "x", "y", (F.col("c") / F.col("n")).alias("pxy")
    )
    px = jp.groupBy("x").agg(F.sum("pxy").alias("px"))
    py = jp.groupBy("y").agg(F.sum("pxy").alias("py"))
    mi = (
        jp.join(F.broadcast(px), "x")
        .join(F.broadcast(py), "y")
        .agg(
            F.sum(
                F.col("pxy") * F.log(F.col("pxy") / (F.col("px") * F.col("py")))
            ).alias("mi"),
        )
    )
    hx = px.agg((-F.sum(F.col("px") * F.log("px"))).alias("hx"))
    hy = py.agg((-F.sum(F.col("py") * F.log("py"))).alias("hy"))
    return (
        n.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").alias("n_rows"),
            fround("hx", 6).alias("h_segment"),
            fround("hy", 6).alias("h_nation"),
            fround("mi", 6).alias("mi_nats"),
            fround(F.col("mi") / F.least("hx", "hy"), 6).alias("nmi"),
        )
    )


ORACLE["table_mutual_information"] = f"""
WITH joint AS (
  SELECT c_mktsegment AS x, c_nationkey AS y, count(*) AS c
  FROM customer GROUP BY 1, 2
),
n AS (SELECT sum(c) AS n FROM joint),
jp AS (SELECT x, y, c / (SELECT n FROM n) AS pxy FROM joint),
px AS (SELECT x, sum(pxy) AS px FROM jp GROUP BY 1),
py AS (SELECT y, sum(pxy) AS py FROM jp GROUP BY 1),
mi AS (
  SELECT sum(jp.pxy * ln(jp.pxy / (px.px * py.py))) AS mi
  FROM jp JOIN px USING (x) JOIN py USING (y)
),
hx AS (SELECT -sum(px * ln(px)) AS hx FROM px),
hy AS (SELECT -sum(py * ln(py)) AS hy FROM py)
SELECT CAST(n.n AS BIGINT) AS n_rows,
       {fround_sql("hx.hx", 6)} AS h_segment,
       {fround_sql("hy.hy", 6)} AS h_nation,
       {fround_sql("mi.mi", 6)} AS mi_nats,
       {fround_sql("mi.mi / least(hx.hx, hy.hy)", 6)} AS nmi
FROM n CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


def table_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association between event type and day-of-week —
    the bounded [0,1] effect-size companion to
    ``table_mutual_information``: V = sqrt(chi2 / (n * (min(r,c)-1)))
    normalizes the chi-square statistic so "is weekday behavior
    different per event type" reads on one scale across tables of any
    size (chi2 alone grows with n; MI is in nats). Day-of-week is
    computed as floor(epoch_days) % 7 — engine-neutral integer
    arithmetic, NOT dayofweek() (Spark is 1=Sunday, DuckDB 0=Sunday).
    Plan: ONE hash aggregation to the r x c contingency table
    (bounded by category cardinalities), marginals re-aggregate the
    tiny joint frame, expected counts multiply as DOUBLE (bigint
    row-total x col-total overflows int64 past ~3e9 rows per margin —
    the table_ks_drift lesson applied at birth)."""
    ev = load_table(spark, sf_dir, "events")
    dow = (
        F.floor(F.unix_timestamp(F.date_trunc("day", "ts")) / 86400) % 7
    ).cast("int")
    joint = ev.groupBy(
        F.col("event_type").alias("x"), dow.alias("y")
    ).agg(F.count(F.lit(1)).alias("c"))
    rx = joint.groupBy("x").agg(F.sum("c").alias("rx"))
    cy = joint.groupBy("y").agg(F.sum("c").alias("cy"))
    n = joint.agg(
        F.sum("c").alias("n"),
        F.countDistinct("x").alias("r"),
        F.countDistinct("y").alias("k"),
    )
    e = F.col("rx").cast("double") * F.col("cy").cast("double") / F.col("n")
    chi = (
        joint.join(F.broadcast(rx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(n))
        .agg(F.sum((F.col("c") - e) * (F.col("c") - e) / e).alias("chi2"))
    )
    return n.crossJoin(F.broadcast(chi)).select(
        F.col("n").cast("bigint").alias("n_rows"),
        F.col("r").cast("int").alias("n_types"),
        F.col("k").cast("int").alias("n_dows"),
        fround("chi2", 4).alias("chi2"),
        fround(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * F.least(F.col("r") - 1, F.col("k") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


ORACLE["table_cramers_v"] = f"""
WITH joint AS (
  SELECT event_type AS x,
         CAST(CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) % 7 AS INT) AS y,
         count(*) AS c
  FROM events GROUP BY 1, 2
),
rx AS (SELECT x, sum(c) AS rx FROM joint GROUP BY 1),
cy AS (SELECT y, sum(c) AS cy FROM joint GROUP BY 1),
n AS (SELECT sum(c) AS n, count(DISTINCT x) AS r, count(DISTINCT y) AS k FROM joint),
chi AS (
  SELECT sum((joint.c - rx.rx * 1.0 * cy.cy / n.n)
             * (joint.c - rx.rx * 1.0 * cy.cy / n.n)
             / (rx.rx * 1.0 * cy.cy / n.n)) AS chi2
  FROM joint JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN n
)
SELECT CAST(n.n AS BIGINT) AS n_rows,
       CAST(n.r AS INT) AS n_types,
       CAST(n.k AS INT) AS n_dows,
       {fround_sql("chi.chi2", 4)} AS chi2,
       {fround_sql("sqrt(chi.chi2 / (n.n * 1.0 * least(n.r - 1, n.k - 1)))", 6)} AS cramers_v
FROM n CROSS JOIN chi
"""


T_CLOSENESS_T = 0.2  # EMD threshold for the is_t_close flag


def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007) — the refinement after
    l-diversity: a QI class leaks if its SENSITIVE-value distribution
    sits far from the global one, even when it is diverse. For the
    ordered sensitive attribute (account-balance band) the standard
    distance is the 1-D Earth Mover's Distance, which collapses to
    mean |cumulative difference| over the ordered bands. Plan: one
    scan → (class × band) counts; the dense class×band grid is a
    broadcast cross join of two BOUNDED dimension frames; cumulative
    sums are windows over ≤|bands| rows per class — nothing here
    scales with row count after the first aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    banded = cust.select(
        F.col("c_nationkey").alias("qi_class"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    cls_band = banded.groupBy("qi_class", "band").agg(
        F.count(F.lit(1)).alias("c")
    )
    cls_tot = cls_band.groupBy("qi_class").agg(F.sum("c").alias("class_size"))
    glob = banded.groupBy("band").agg(F.count(F.lit(1)).alias("g"))
    n = banded.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        cls_tot.select("qi_class", "class_size")
        .crossJoin(F.broadcast(glob.crossJoin(F.broadcast(n))))
        .join(cls_band, ["qi_class", "band"], "left")
        .select(
            "qi_class",
            "class_size",
            "band",
            (F.coalesce("c", F.lit(0)) / F.col("class_size")).alias("p_cls"),
            (F.col("g") / F.col("n")).alias("p_glob"),
        )
    )
    w = W.partitionBy("qi_class").orderBy("band")
    cum = grid.select(
        "qi_class",
        "class_size",
        F.abs(
            F.sum(F.col("p_cls") - F.col("p_glob")).over(w)
        ).alias("cum_abs"),
    )
    nbands = glob.agg(F.count(F.lit(1)).alias("m"))
    return (
        cum.groupBy("qi_class", "class_size")
        .agg(F.sum("cum_abs").alias("s"))
        .crossJoin(F.broadcast(nbands))
        .select(
            "qi_class",
            "class_size",
            fround(F.col("s") / (F.col("m") - F.lit(1)), 6).alias("t_emd"),
            (F.col("s") / (F.col("m") - F.lit(1)) <= T_CLOSENESS_T)
            .cast("int")
            .alias("is_t_close"),
        )
        .orderBy("qi_class")
    )


ORACLE["privacy_t_closeness"] = f"""
WITH banded AS (
  SELECT c_nationkey AS qi_class,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
  FROM customer
),
cls_band AS (
  SELECT qi_class, band, count(*) AS c FROM banded GROUP BY 1, 2
),
cls_tot AS (
  SELECT qi_class, sum(c) AS class_size FROM cls_band GROUP BY 1
),
gdist AS (SELECT band, count(*) AS g FROM banded GROUP BY 1),
n AS (SELECT count(*) AS n FROM banded),
grid AS (
  SELECT ct.qi_class, ct.class_size, gl.band,
         coalesce(cb.c, 0) / CAST(ct.class_size AS DOUBLE) AS p_cls,
         gl.g / CAST(nn.n AS DOUBLE) AS p_glob
  FROM cls_tot ct
  CROSS JOIN gdist gl
  CROSS JOIN n nn
  LEFT JOIN cls_band cb ON cb.qi_class = ct.qi_class AND cb.band = gl.band
),
cum AS (
  SELECT qi_class, class_size,
         abs(sum(p_cls - p_glob) OVER (
           PARTITION BY qi_class ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cum_abs
  FROM grid
),
m AS (SELECT count(*) AS m FROM gdist)
SELECT qi_class,
       CAST(class_size AS BIGINT) AS class_size,
       {fround_sql("sum(cum_abs) / (any_value(m.m) - 1)", 6)} AS t_emd,
       CAST(sum(cum_abs) / (any_value(m.m) - 1) <= {T_CLOSENESS_T} AS INT)
         AS is_t_close
FROM cum CROSS JOIN m
GROUP BY qi_class, class_size
ORDER BY qi_class
"""


_ENTROPY_COLS = [
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
    ("customer", "c_nationkey"),
]


def table_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + normalized entropy (H/ln k) per categorical
    column — the profiler's uniformity gauge: 1.0 means perfectly
    balanced categories, near 0 means one value dominates (a column
    that's 99 % one status is useless as a partition key and suspect
    as a feature). Per column: one hash aggregation into its
    |categories|-sized frequency table, entropy as arithmetic over
    that bounded frame, long-form union output — same single-pass
    shape as table_profile."""
    outs = []
    for tbl, col in _ENTROPY_COLS:
        df = load_table(spark, sf_dir, tbl)
        freq = df.groupBy(F.col(col).cast("string").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        tot = freq.agg(
            F.sum("c").alias("n"), F.count(F.lit(1)).alias("k")
        )
        # H = ln n − (Σ c·ln c)/n — the algebraic form both engines
        # evaluate identically (and the one SQL can express without
        # nesting aggregates)
        ent = (
            freq.crossJoin(F.broadcast(tot))
            .agg(
                F.first("n").alias("n"),
                F.first("k").alias("k"),
                (
                    F.log(F.first("n"))
                    - F.sum(F.col("c") * F.log("c")) / F.first("n")
                ).alias("h"),
            )
            .select(
                F.lit(f"{tbl}.{col}").alias("column"),
                F.col("n").alias("n_rows"),
                F.col("k").alias("n_categories"),
                fround("h", 6).alias("entropy_nats"),
                fround(
                    F.when(F.col("k") > 1, F.col("h") / F.log("k"))
                    .otherwise(F.lit(0.0)),
                    6,
                ).alias("normalized_entropy"),
            )
        )
        outs.append(ent)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("column")


def _entropy_profile_oracle() -> str:
    parts = []
    for tbl, col in _ENTROPY_COLS:
        parts.append(f"""
SELECT '{tbl}.{col}' AS column,
       CAST(any_value(n) AS BIGINT) AS n_rows,
       CAST(any_value(k) AS BIGINT) AS n_categories,
       {fround_sql("ln(any_value(n)) - sum(c * ln(c)) / any_value(n)", 6)} AS entropy_nats,
       {fround_sql("CASE WHEN any_value(k) > 1 THEN (ln(any_value(n)) - sum(c * ln(c)) / any_value(n)) / ln(any_value(k)) ELSE 0.0 END", 6)} AS normalized_entropy
FROM (
  SELECT CAST(c AS DOUBLE) AS c, sum(c) OVER () AS n, count(*) OVER () AS k
  FROM (SELECT CAST({col} AS VARCHAR) AS v, count(*) AS c FROM {tbl} GROUP BY 1)
)""")
    return (
        "SELECT * FROM (\n" + "\nUNION ALL\n".join(parts)
        + "\n) ORDER BY 1"
    )


ORACLE["table_entropy_profile"] = _entropy_profile_oracle()


RR_FLIP_MOD = 4  # respond truthfully with prob 1 − 1/MOD (ε = ln 3)


def privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized response (Warner 1965) — LOCAL differential privacy,
    the mechanism behind RAPPOR-style telemetry: each unit flips its
    sensitive bit (high account balance) with probability p = 1/{RR_FLIP_MOD}
    (ε = ln((1−p)/p) = ln 3), the collector sees only noised bits and
    DEBIASES the aggregate: π̂ = (observed_rate − p)/(1 − 2p). The flip
    is a deterministic md5 draw per customer — same replayable-noise
    contract as the DP-counts slug, so the oracle verifies the entire
    mechanism end-to-end including the debiasing algebra. One scan,
    one per-nation aggregation; the true rate rides along to report
    the estimator's realized absolute error."""
    cust = load_table(spark, sf_dir, "customer")
    prior = cust.agg(F.avg("c_acctbal").alias("bal_mean"))
    truth = cust.crossJoin(F.broadcast(prior)).select(
        F.col("c_nationkey").alias("nationkey"),
        (F.col("c_acctbal") > F.col("bal_mean")).cast("int").alias("y"),
        (hash64(F.concat(F.lit("rr:"), "c_custkey")) % RR_FLIP_MOD == 0)
        .cast("int")
        .alias("flip"),
    )
    noised = truth.select(
        "nationkey",
        "y",
        F.when(F.col("flip") == 1, 1 - F.col("y")).otherwise(F.col("y")).alias(
            "y_rr"
        ),
    )
    p = 1.0 / RR_FLIP_MOD
    return (
        noised.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("y").alias("true_rate"),
            F.avg("y_rr").alias("obs_rate"),
        )
        .select(
            "nationkey",
            "n",
            fround("true_rate", 6).alias("true_rate"),
            fround(
                (F.col("obs_rate") - F.lit(p)) / F.lit(1.0 - 2.0 * p), 6
            ).alias("debiased_rate"),
            fround(
                F.abs(
                    (F.col("obs_rate") - F.lit(p)) / F.lit(1.0 - 2.0 * p)
                    - F.col("true_rate")
                ),
                6,
            ).alias("abs_error"),
        )
        .orderBy("nationkey")
    )


ORACLE["privacy_randomized_response"] = f"""
WITH truth AS (
  SELECT c_nationkey AS nationkey,
         CASE WHEN c_acctbal > (SELECT avg(c_acctbal) FROM customer)
              THEN 1 ELSE 0 END AS y,
         CASE WHEN {hash64_sql("'rr:' || c_custkey")}
                   % {RR_FLIP_MOD} = 0
              THEN 1 ELSE 0 END AS flip
  FROM customer
),
noised AS (
  SELECT nationkey, y,
         CASE WHEN flip = 1 THEN 1 - y ELSE y END AS y_rr
  FROM truth
),
g AS (
  SELECT nationkey, count(*) AS n,
         avg(y) AS true_rate, avg(y_rr) AS obs_rate
  FROM noised GROUP BY 1
)
SELECT nationkey, n,
       {fround_sql("true_rate", 6)} AS true_rate,
       {fround_sql(f"(obs_rate - {1.0 / RR_FLIP_MOD}) / {1.0 - 2.0 / RR_FLIP_MOD}", 6)} AS debiased_rate,
       {fround_sql(f"abs((obs_rate - {1.0 / RR_FLIP_MOD}) / {1.0 - 2.0 / RR_FLIP_MOD} - true_rate)", 6)} AS abs_error
FROM g ORDER BY nationkey
"""


WINSOR_Q = 0.05  # clip tails at p5/p95


def robust_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed means of extended price per order
    priority — the robust-location pair every metrics platform keeps
    next to the raw mean (one fat-fingered price shouldn't move a
    KPI). Boundaries are exact percentiles per group, grid-snapped to
    4 dp (the quantile_bins recipe) and joined back as a broadcast
    |groups|-row frame; winsorize = clamp to [lo, hi], trim = drop
    outside — both then plain aggregations. Two scans of the fact
    (one for boundaries, one for stats), no sort, no UDF."""
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    fact = li.join(ords, "l_orderkey").select(
        "o_orderpriority", F.col("l_extendedprice").alias("x")
    )
    b = fact.groupBy("o_orderpriority").agg(
        F.expr(f"{fround_sql(f'percentile(x, {WINSOR_Q})', 4)}").alias("lo"),
        F.expr(f"{fround_sql(f'percentile(x, {1 - WINSOR_Q})', 4)}").alias(
            "hi"
        ),
    )
    j = fact.join(F.broadcast(b), "o_orderpriority")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fround(F.avg("x"), 4).alias("raw_mean"),
            fround(
                F.avg(F.least(F.greatest("x", F.col("lo")), F.col("hi"))), 4
            ).alias("winsorized_mean"),
            fround(
                F.avg(
                    F.when(
                        (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")),
                        F.col("x"),
                    )
                ),
                4,
            ).alias("trimmed_mean"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE["robust_winsorized_stats"] = f"""
WITH fact AS (
  SELECT o.o_orderpriority, l.l_extendedprice AS x
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
),
b AS (
  SELECT o_orderpriority,
         {fround_sql(f"quantile_cont(x, {WINSOR_Q})", 4)} AS lo,
         {fround_sql(f"quantile_cont(x, {1 - WINSOR_Q})", 4)} AS hi
  FROM fact GROUP BY 1
)
SELECT f.o_orderpriority,
       count(*) AS n,
       {fround_sql("avg(f.x)", 4)} AS raw_mean,
       {fround_sql("avg(least(greatest(f.x, b.lo), b.hi))", 4)} AS winsorized_mean,
       {fround_sql("avg(CASE WHEN f.x >= b.lo AND f.x <= b.hi THEN f.x END)", 4)} AS trimmed_mean
FROM fact f JOIN b USING (o_orderpriority)
GROUP BY f.o_orderpriority
ORDER BY f.o_orderpriority
"""


_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def table_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema — the data-contract check a warehouse runs on every load:
    per edge, child row count, distinct FK values, orphan rows (no
    parent), and null FKs. Each edge is ONE left-anti-shaped
    aggregation: the child aggregates to its distinct key set first
    (shrinking the join input to |keys|), then a broadcast/keyed join
    against the parent's key column; orphan ROW counts recover by
    joining the per-key orphan flag back to per-key child counts — so the
    fact table is scanned once per edge and never joined row-by-row
    against the parent. Long-form output, one row per FK edge."""
    outs = []
    for child, fk, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("_pk")
        ).distinct()
        keys = c.groupBy(F.col(fk).alias("_fk")).agg(
            F.count(F.lit(1)).alias("_n")
        )
        flagged = keys.join(
            p, keys["_fk"] == p["_pk"], "left"
        ).select(
            "_fk",
            "_n",
            F.col("_pk").isNull().cast("int").alias("_orphan"),
        )
        outs.append(
            flagged.agg(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("fk_edge"),
                F.sum("_n").alias("child_rows"),
                F.count(F.lit(1)).alias("distinct_fks"),
                F.sum(
                    F.when(F.col("_orphan") == 1, F.col("_n")).otherwise(
                        F.lit(0)
                    )
                ).alias("orphan_rows"),
                F.sum(
                    F.when(F.col("_fk").isNull(), F.col("_n")).otherwise(
                        F.lit(0)
                    )
                ).alias("null_fk_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("fk_edge")


def _ref_integrity_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _FK_EDGES:
        parts.append(f"""
SELECT '{child}.{fk}->{parent}.{pk}' AS fk_edge,
       CAST(sum(_n) AS BIGINT) AS child_rows,
       count(*) AS distinct_fks,
       CAST(sum(CASE WHEN _orphan = 1 THEN _n ELSE 0 END) AS BIGINT)
         AS orphan_rows,
       CAST(sum(CASE WHEN _fk IS NULL THEN _n ELSE 0 END) AS BIGINT)
         AS null_fk_rows
FROM (
  SELECT k._fk, k._n,
         CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END AS _orphan
  FROM (SELECT {fk} AS _fk, count(*) AS _n FROM {child} GROUP BY 1) k
  LEFT JOIN (SELECT DISTINCT {pk} AS _pk FROM {parent}) p
    ON k._fk = p._pk
)""")
    return (
        "SELECT * FROM (\n" + "\nUNION ALL\n".join(parts)
        + "\n) ORDER BY fk_edge"
    )


ORACLE["table_referential_integrity"] = _ref_integrity_oracle()


def table_missingness_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-PATTERN census (the first table of Little & Rubin):
    not per-column null rates (``table_profile`` has those) but the
    JOINT pattern — which column-combinations go missing together —
    the diagnostic that separates MCAR from "the mobile client never
    sends value AND props" systematic gaps, and decides impute vs
    drop per pattern. The testdata ships no physical NULLs, so
    missingness is injected deterministically
    (md5-derived per-column coin flips at 10%/25%/5% — the same
    hash-not-RNG convention as ``privacy_dp_counts``), which is
    exactly what makes the joint census value-checkable in DuckDB.
    Pattern key = the 3-bit flag vector as a string; output ≤ 2³ rows
    with counts, share, and per-pattern co-missing column count. One
    scan, one bounded aggregation — profile cost at 100 TB is the
    scan."""
    ev = load_table(spark, sf_dir, "events")

    def miss(tag: str, pct: int):
        h = hash64(F.concat(F.lit(tag + ":"), F.col("event_id").cast("string")))
        return (h % 100 < pct).cast("int")

    flags = ev.select(
        miss("mv", 10).alias("m_value"),
        miss("mp", 25).alias("m_props"),
        miss("mu", 5).alias("m_user"),
    )
    total = flags.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        flags.groupBy("m_value", "m_props", "m_user")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .select(
            F.concat_ws(
                "", F.col("m_value"), F.col("m_props"), F.col("m_user")
            ).alias("pattern"),
            (F.col("m_value") + F.col("m_props") + F.col("m_user"))
            .cast("int")
            .alias("n_missing_cols"),
            "n_rows",
            fround(F.col("n_rows") / F.col("n_total").cast("double"), 6).alias(
                "share"
            ),
        )
        .orderBy("pattern")
    )


ORACLE["table_missingness_patterns"] = f"""
WITH flags AS (
  SELECT
    CASE WHEN {hash64_sql("'mv:' || CAST(event_id AS VARCHAR)")} % 100 < 10 THEN 1 ELSE 0 END AS m_value,
    CASE WHEN {hash64_sql("'mp:' || CAST(event_id AS VARCHAR)")} % 100 < 25 THEN 1 ELSE 0 END AS m_props,
    CASE WHEN {hash64_sql("'mu:' || CAST(event_id AS VARCHAR)")} % 100 < 5 THEN 1 ELSE 0 END AS m_user
  FROM events
)
SELECT CAST(m_value AS VARCHAR) || CAST(m_props AS VARCHAR) || CAST(m_user AS VARCHAR) AS pattern,
       CAST(m_value + m_props + m_user AS INT) AS n_missing_cols,
       count(*) AS n_rows,
       {fround_sql("count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM flags)", 6)} AS share
FROM flags
GROUP BY m_value, m_props, m_user
ORDER BY pattern
"""


def table_xicor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ rank correlation (JASA 2020) of event value
    against TIME ORDER, per event type — the modern dependence screen
    the correlation matrix can't replace: Pearson/Spearman see only
    monotone association, ξ consistently estimates whether y is a
    (noisy) FUNCTION of x at all, oscillations included, so it flags
    seasonal/periodic value structure that corr_matrix scores ~0.
    Ties-general form: ξ = 1 − n·Σ|r_{i+1} − r_i| / (2·Σ l_i(n−l_i)),
    r_i = #{y_j ≤ y_i}, l_i = #{y_j ≥ y_i}, sequence ordered by x.
    Ties in x are broken deterministically (event_id) rather than by
    the paper's randomization — documented determinism trade, the
    estimate is unchanged when x has no heavy ties (timestamps).

    Scale shape: three windows, ALL partitioned by event_type (zero
    global sorts), then one hash aggregate — a fixed number of
    per-group shuffles regardless of data size. Products l·(n−l) are
    cast to double BEFORE multiplying (the table_ks_drift int64-
    overflow lesson: at >~3·10⁹ rows/type bigint products throw under
    ANSI); the final ratio is grid-snapped at 1e-6."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", F.col("value").alias("y")
    )
    return xicor_by_group(ev, "event_type", ["ts", "event_id"], "y")


def xicor_by_group(
    df: DataFrame, group_col: str, order_cols: list[str], y_col: str
) -> DataFrame:
    """Ties-general Chatterjee ξ per group (see ``table_xicor``).
    ``order_cols`` is the x ordering plus a deterministic tiebreak."""
    wr = (
        W.partitionBy(group_col)
        .orderBy(y_col)
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    wl = (
        W.partitionBy(group_col)
        .orderBy(F.col(y_col).desc())
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = W.partitionBy(group_col)
    ws = W.partitionBy(group_col).orderBy(*order_cols)
    rk = df.select(
        group_col,
        *order_cols,
        F.count(F.lit(1)).over(wr).alias("r"),
        F.count(F.lit(1)).over(wl).alias("l"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    seq = rk.select(
        group_col,
        "n",
        "r",
        "l",
        F.lead("r").over(ws).alias("rn"),
    )
    num = F.sum(F.abs(F.col("rn").cast("double") - F.col("r").cast("double")))
    den = F.sum(F.col("l").cast("double") * (F.col("n") - F.col("l")).cast("double"))
    return (
        seq.groupBy(group_col)
        .agg(
            F.max("n").alias("n"),
            fround(
                F.lit(1.0) - F.max("n").cast("double") * num / (F.lit(2.0) * den),
                6,
            ).alias("xi"),
        )
        .orderBy(group_col)
    )


ORACLE["table_xicor"] = f"""
WITH rk AS (
  SELECT event_type, ts, event_id,
         count(*) OVER (PARTITION BY event_type ORDER BY value
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r,
         count(*) OVER (PARTITION BY event_type ORDER BY value DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
seq AS (
  SELECT event_type, n, r, l,
         lead(r) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
  FROM rk
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       {fround_sql(
           "1.0 - max(n) * 1.0 * sum(abs(rn * 1.0 - r * 1.0))"
           " / (2.0 * sum(l * 1.0 * (n - l)))",
           6,
       )} AS xi
FROM seq GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "table_xicor": table_xicor,
    "table_cramers_v": table_cramers_v,
    "table_missingness_patterns": table_missingness_patterns,
    "table_referential_integrity": table_referential_integrity,
    "privacy_randomized_response": privacy_randomized_response,
    "robust_winsorized_stats": robust_winsorized_stats,
    "table_entropy_profile": table_entropy_profile,
    "table_mutual_information": table_mutual_information,
    "privacy_t_closeness": privacy_t_closeness,
    "table_benford_audit": table_benford_audit,
    "table_profile": table_profile,
    "table_skew_report": table_skew_report,
    "table_drift_psi": table_drift_psi,
    "table_ks_drift": table_ks_drift,
    "privacy_dp_exponential_topk": privacy_dp_exponential_topk,
    "table_fd_discovery": table_fd_discovery,
    "table_sketch_profile": table_sketch_profile,
    "table_histogram": table_histogram,
    "corr_matrix": corr_matrix,
    "quantile_bins": quantile_bins,
    "anomaly_zscore": anomaly_zscore,
    "robust_mad_outliers": robust_mad_outliers,
    "quality_constraint_audit": quality_constraint_audit,
    "privacy_k_anonymity": privacy_k_anonymity,
    "privacy_l_diversity": privacy_l_diversity,
    "privacy_dp_counts": privacy_dp_counts,
    "privacy_dp_sum_clipped": privacy_dp_sum_clipped,
    "table_key_discovery": table_key_discovery,
}
