"""Skew mitigation for hot keys.

The reference's reducer is a single in-memory HashMap per task
(``worker.rs:126-131``) — one hot key OOMs one worker; nothing
redistributes it. The engine handles skew at three levels:

1. **Partial aggregation** (automatic): algebraic aggregates compact
   to one row per key per map partition before the shuffle, so
   groupBy skew mostly disappears for sum/count/min/max.
2. **AQE skew-join splitting** (on in session.py): runtime splits
   oversized join partitions.
3. **Explicit salted join** (here): for deterministic plans or
   engines/versions without AQE, replicate the build side S ways and
   scatter the probe side by a content-derived salt — the hot key's
   rows spread across S partitions instead of one.

``salted_join`` is semantically identical to ``left.join(right, on,
"inner")`` (verified by equivalence test on a skewed dataset).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.functions.text import hash64, hash64_sql
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join on ``on``.

    Probe side (left, the big/skewed one): salt derived from a hash
    of the whole row (deterministic, uniform). Build side (right):
    replicated once per salt value via an exploded literal range. The
    shuffle key becomes (key, salt) — a hot key now occupies n_salt
    partitions. Build-side cost: n_salt× replication, so keep the
    build side the smaller input (same discipline as broadcast)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salt))
    l_salted = left.withColumn("_salt", salt)
    r_replicated = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = l_salted.join(r_replicated, [on, "_salt"], how)
    return out.drop("_salt")


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
    salt_col: Column,
    n_salt: int = 32,
) -> DataFrame:
    """Two-phase (salted) aggregation for hot grouping keys: phase 1
    aggregates on (keys, salt) so a hot key's rows land in ``n_salt``
    partitions; phase 2 merges the ≤ n_salt partials per key. Emits
    ``cnt`` plus ``sum_<col>`` per requested column.

    Spark's map-side partial aggregation already does this implicitly
    for algebraic aggregates — this explicit form exists for (a) the
    documented skew playbook, (b) engines/paths where partial agg is
    unavailable (e.g. after a repartition by an unrelated key), and
    (c) as the building block for salted non-algebraic pipelines.
    ``salt_col`` must be deterministic (hash of a high-cardinality
    column, NOT rand()) so results are replayable."""
    salted = df.withColumn("_salt", F.pmod(salt_col, F.lit(n_salt)))
    partial = salted.groupBy(*key_cols, "_salt").agg(
        F.count(F.lit(1)).alias("_cnt"),
        *[F.sum(c).alias(f"_sum_{c}") for c in sum_cols],
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_cnt").alias("cnt"),
        *[F.sum(f"_sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def top_hot_keys(df: DataFrame, key_col: str, k: int = 10) -> DataFrame:
    """Diagnostic: the k heaviest keys and their share of rows — run
    this before choosing a partitioning/salting strategy."""
    total = df.count()
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("share", F.col("cnt") / F.lit(float(total)))
        .orderBy(F.col("cnt").desc())
        .limit(k)
    )


# --- registry query -------------------------------------------------


def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over events keyed by event_type —
    deliberately a LOW-cardinality key (the skew case: every row maps
    to a handful of groups). The salt spreads each hot group over 32
    partitions in phase 1; the oracle checks the result is identical
    to the plain single-phase GROUP BY."""
    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        key_cols=["event_type"],
        sum_cols=["value"],
        salt_col=F.xxhash64("event_id"),
        n_salt=32,
    )
    return out.select("event_type", "cnt", fround("sum_value").alias("sum_value"))


ORACLE["skew_salted_agg"] = f"""
SELECT event_type, count(*) AS cnt,
       {fround_sql("sum(value)")} AS sum_value
FROM events GROUP BY 1
"""

def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (orders ⋈ customer on custkey) rolled up per
    segment — the oracle checks the salted plan is semantically
    identical to the plain join. Money sums go through DECIMAL: the
    salt changes summation order, and at ~1e9 magnitude double
    addition noise exceeds fround's pre-round (same rule as
    sink_bucketed_join)."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(orders, cust, on="custkey", n_salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE["skew_salted_join"] = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY 1 ORDER BY 1
"""


def skew_top_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic over the lineitem part key: the 10 heaviest
    keys with their row share — what an operator consults before
    choosing broadcast/salting/bucketing. Deterministic tie-break on
    the key id."""
    li = load_table(spark, sf_dir, "lineitem")
    total = li.count()
    return (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("share", fround(F.col("cnt") / F.lit(float(total)), 6))
        .orderBy(F.col("cnt").desc(), "partkey")
        .limit(10)
    )


ORACLE["skew_top_hot_keys"] = f"""
SELECT l_partkey AS partkey, count(*) AS cnt,
       {fround_sql("count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM lineitem)", 6)} AS share
FROM lineitem
GROUP BY 1
ORDER BY cnt DESC, partkey
LIMIT 10
"""


RING_SHARDS = 8
RING_VNODES = 8  # virtual nodes per shard


def _ring(spark: SparkSession, n_shards: int) -> DataFrame:
    """Hash-ring vnode table for ``n_shards`` shards: (shard, vh).
    Tiny (shards × vnodes rows) — always broadcast."""
    rows = [(s, v) for s in range(n_shards) for v in range(RING_VNODES)]
    ring = spark.createDataFrame(rows, "shard int, v int")
    return ring.select(
        "shard",
        hash64(
            F.concat(
                F.lit("ring:"),
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("v").cast("string"),
            )
        ).alias("vh"),
    )


def _assign(docs: DataFrame, ring: DataFrame) -> DataFrame:
    """(doc_id, shard): each key goes to the first vnode clockwise
    from its hash (wraparound to the ring's global minimum)."""
    keyed = docs.select(
        "doc_id",
        hash64(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))).alias(
            "hd"
        ),
    )
    joined = keyed.crossJoin(F.broadcast(ring))
    pick = F.min(
        F.struct(
            F.when(F.col("vh") >= F.col("hd"), 0).otherwise(1).alias("wrap"),
            F.col("vh").alias("vh"),
            F.col("shard").alias("shard"),
        )
    )
    return joined.groupBy("doc_id").agg(pick.alias("p")).select(
        "doc_id", F.col("p.shard").alias("shard")
    )


def skew_consistent_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONSISTENT HASHING shard assignment, with the elasticity
    property measured: keys map to the first vnode clockwise on an
    md5 hash ring ({s}×{v} virtual nodes); growing the ring to
    {s1} shards re-homes ONLY the keys whose successor vnode now
    belongs to the new shard — ~1/{s1} of the corpus — while a plain
    ``hash(key) % n`` reshuffles almost everything. This is the
    partitioning scheme routers/caches/shard-maps use when shard
    count must change without a full rebalance. Per shard: load
    before, load after, keys lost to the new shard; the vnode tables
    are broadcast (shards×vnodes rows), so cost is one scan + one
    small aggregation per ring. The unit test pins the invariant
    that every moved key lands on the NEW shard."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a8 = _assign(docs, _ring(spark, RING_SHARDS)).withColumnRenamed(
        "shard", "shard_before"
    )
    a9 = _assign(docs, _ring(spark, RING_SHARDS + 1)).withColumnRenamed(
        "shard", "shard_after"
    )
    both = a8.join(a9, "doc_id")
    return (
        both.groupBy("shard_before")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.sum(
                (F.col("shard_after") == F.col("shard_before")).cast("bigint")
            ).alias("n_stayed"),
            F.sum(
                (F.col("shard_after") != F.col("shard_before")).cast("bigint")
            ).alias("n_moved"),
        )
        .orderBy("shard_before")
    )


skew_consistent_shards.__doc__ = skew_consistent_shards.__doc__.format(
    s=RING_SHARDS, v=RING_VNODES, s1=RING_SHARDS + 1
)


def _ring_sql(n_shards: int) -> str:
    rows = ", ".join(
        f"""({s}, {hash64_sql(f"'ring:{s}:{v}'")})"""
        for s in range(n_shards)
        for v in range(RING_VNODES)
    )
    return f"(VALUES {rows}) AS ring(shard, vh)"


def _assign_sql(n_shards: int) -> str:
    return f"""
  SELECT doc_id, shard FROM (
    SELECT k.doc_id, ring.shard,
           row_number() OVER (
             PARTITION BY k.doc_id
             ORDER BY CASE WHEN ring.vh >= k.hd THEN 0 ELSE 1 END, ring.vh)
             AS rn
    FROM (SELECT doc_id,
                 {hash64_sql("'doc:' || CAST(doc_id AS VARCHAR)")}
                   AS hd
          FROM documents) k
    CROSS JOIN {_ring_sql(n_shards)}
  ) t WHERE rn = 1
"""


ORACLE["skew_consistent_shards"] = f"""
WITH a8 AS ({_assign_sql(RING_SHARDS)}),
a9 AS ({_assign_sql(RING_SHARDS + 1)})
SELECT a8.shard AS shard_before,
       count(*) AS n_before,
       CAST(sum(CASE WHEN a9.shard = a8.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stayed,
       CAST(sum(CASE WHEN a9.shard != a8.shard THEN 1 ELSE 0 END) AS BIGINT)
         AS n_moved
FROM a8 JOIN a9 USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


RANGE_PARTS = 8  # target partition count for the planned ranges
RANGE_BANDS = 256  # first-phase bands — fixed, independent of row count


def skew_balanced_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT balanced range-partition boundaries — what Spark's
    RangePartitioner estimates by sampling, computed exactly and
    deterministically (sampling isn't oracle-able) with NO global
    sort: the smallest key whose exact cumulative row count reaches
    each i/{RANGE_PARTS} of the total, plus the achieved cumulative
    fraction (the imbalance report). This is the planning step before
    any range-partitioned write or sort-free merge join.

    Distributed cumulative counts use the two-phase banded shape
    (same as ``abc_analysis``): per-key counts band into
    ≤{RANGE_BANDS} key-range buckets (band width from max key, so
    band count never grows with row count), band totals prefix-sum
    EXPRESSION-side over one collected array row (no partitionless
    window, no single-partition sort), and each key adds its
    within-band running count via a window PARTITIONED by band. The
    boundary pick is an all-integer broadcast join against the
    {RANGE_PARTS}-row target series — bit-identical in any engine."""
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = keyed.agg(
        F.max("key").alias("mx"), F.sum("cnt").alias("t")
    )
    banded = (
        keyed.crossJoin(F.broadcast(tot))
        .withColumn("bw", F.expr(f"mx DIV {RANGE_BANDS} + 1"))
        .withColumn("bkt", F.expr("key DIV bw"))
    )
    bsum = banded.groupBy("bkt").agg(F.sum("cnt").alias("bsum"))
    packed = bsum.agg(
        F.sort_array(F.collect_list(F.struct("bkt", "bsum"))).alias("bands")
    )
    prev = packed.select(
        F.posexplode("bands").alias("pos", "b"),
        F.col("bands").alias("bands"),
    ).select(
        F.col("b.bkt").alias("bkt"),
        F.aggregate(
            F.slice("bands", F.lit(1), F.col("pos")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x["bsum"],
        ).alias("prev"),
    )
    w_run = (
        Window.partitionBy("bkt")
        .orderBy("key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = banded.join(F.broadcast(prev), "bkt").select(
        "key",
        "cnt",
        "t",
        (F.col("prev") + F.sum("cnt").over(w_run)).alias("cum"),
    )
    targets = spark.range(1, RANGE_PARTS + 1).select(F.col("id").alias("i"))
    return (
        cum.join(
            F.broadcast(targets),
            ((F.col("cum") - F.col("cnt")) * RANGE_PARTS < F.col("i") * F.col("t"))
            & (F.col("i") * F.col("t") <= F.col("cum") * RANGE_PARTS),
        )
        .select(
            F.col("i").alias("partition_id"),
            F.col("key").alias("boundary_key"),
            F.col("cum").alias("cum_rows"),
            fround(F.col("cum").cast("double") / F.col("t"), 6).alias("cum_frac"),
        )
        .orderBy("partition_id")
    )


ORACLE["skew_balanced_ranges"] = f"""
WITH keyed AS (
  SELECT l_orderkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1
),
tot AS (SELECT max(key) AS mx, CAST(sum(cnt) AS BIGINT) AS t FROM keyed),
cum AS (
  SELECT key, cnt, t,
         CAST(sum(cnt) OVER (ORDER BY key
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS BIGINT) AS cum
  FROM keyed CROSS JOIN tot
),
series AS (SELECT unnest(range(1, {RANGE_PARTS + 1})) AS i)
SELECT s.i AS partition_id, c.key AS boundary_key, c.cum AS cum_rows,
       {fround_sql("c.cum / CAST(c.t AS DOUBLE)", 6)} AS cum_frac
FROM cum c JOIN series s
  ON (c.cum - c.cnt) * {RANGE_PARTS} < s.i * c.t
 AND s.i * c.t <= c.cum * {RANGE_PARTS}
ORDER BY 1
"""


QUERIES = {
    "skew_balanced_ranges": skew_balanced_ranges,
    "skew_consistent_shards": skew_consistent_shards,
    "skew_salted_agg": skew_salted_agg,
    "skew_salted_join": skew_salted_join,
    "skew_top_hot_keys": skew_top_hot_keys,
}
