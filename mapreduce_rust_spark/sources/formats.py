"""File-format connectors beyond parquet: csv, json(lines), orc.

The reference's entire format surface is text-in / JSON-array-out
(``worker.rs:110``, ``worker.rs:199-208``); SURVEY.md §2c lists the
format families Spark's sources give the new engine. Each round-trip
registry query below writes a real table out through the format's
writer and reads it back through its reader (explicit schema, so csv/
json don't depend on inference), proving BOTH directions against the
parquet-derived oracle.

Scale notes: every writer here emits one file per partition with no
global coordination (the same property the reference gets from
one-file-per-reduce-task), so sink parallelism equals partition
count. csv/json are row formats with no column pruning or predicate
pushdown — the docstring-level guidance is: interchange only;
anything queried repeatedly belongs in parquet/orc (columnar,
compressed, statistics).
"""

from __future__ import annotations

import os

from mapreduce_rust_spark.session import scratch_dir

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import single_partition
from mapreduce_rust_spark.functions.text import hash64, hash64_sql
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}

# stringify the timestamp at the edge so the comparison is exact and
# timezone-convention-free across Spark/DuckDB/pandas
_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_orderpriority
FROM orders
"""


def _orders_stringified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
        "o_orderpriority",
    )


def roundtrip(df: DataFrame, fmt: str, **writer_options: str) -> DataFrame:
    """Write ``df`` in ``fmt`` to a temp dir and read it back with the
    original schema (no inference)."""
    out = os.path.join(scratch_dir(prefix=f"mrs_{fmt}_"), "data")
    df.write.mode("overwrite").format(fmt).options(**writer_options).save(out)
    reader = df.sparkSession.read.format(fmt).schema(df.schema).options(**writer_options)
    return reader.load(out)


def format_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundtrip(_orders_stringified(spark, sf_dir), "csv", header="true")


def format_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundtrip(_orders_stringified(spark, sf_dir), "json")


def format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roundtrip(_orders_stringified(spark, sf_dir), "orc")


def format_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's NATIVE XML source (spark-xml merged into core): write
    orders as <row> elements, read back with explicit schema. Same
    both-directions contract as the csv/json/orc round-trips. XML is
    interchange-only at scale (row format, no pushdown) — same
    docstring-level guidance as csv/json. Avro was probed and is NOT
    available in this build (external module jar not bundled with the
    pip distribution), so it is deliberately absent rather than
    stubbed."""
    return roundtrip(_orders_stringified(spark, sf_dir), "xml", rowTag="row")


ORACLE["format_csv_roundtrip"] = _ORDERS_ORACLE
ORACLE["format_json_roundtrip"] = _ORDERS_ORACLE
ORACLE["format_orc_roundtrip"] = _ORDERS_ORACLE
ORACLE["format_xml_roundtrip"] = _ORDERS_ORACLE


def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet round-trip: write events partitioned
    by event_type, read back, aggregate. Downstream readers of the
    written layout get partition pruning for free (plan-asserted in
    tests/test_scale.py); the aggregate proves the layout loses no
    rows and the partition column survives the directory encoding."""
    from mapreduce_rust_spark.functions.numeric import fround
    from mapreduce_rust_spark.sinks import write_partitioned_parquet

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = os.path.join(scratch_dir(prefix="mrs_part_"), "events")
    write_partitioned_parquet(ev, out, ["event_type"])
    back = spark.read.parquet(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fround(F.sum("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


ORACLE["sink_partitioned_parquet"] = """
SELECT event_type, count(*) AS n_events,
       floor(round((sum(value)), 6) * 100) / 100 AS sum_value
FROM events GROUP BY 1 ORDER BY 1
"""


def sink_sorted_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-lite storage layout: write lineitem re-partitioned AND
    sorted by ship date, so each parquet file covers a narrow date
    range and its row-group min/max statistics let a date filter skip
    almost every file (the clustering trick behind Delta OPTIMIZE
    ZORDER / Iceberg sort orders, in vanilla parquet). The query
    re-reads with a tight date predicate — pushed to the scan — and
    aggregates; the oracle proves the clustered layout drops nothing.
    repartitionByRange + sortWithinPartitions = one range shuffle at
    write time, amortized over every future pruned read."""
    from mapreduce_rust_spark.functions.numeric import fround

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_quantity", "l_extendedprice"
    )
    out = os.path.join(scratch_dir(prefix="mrs_sorted_"), "lineitem")
    (
        li.repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        (F.col("l_shipdate") >= "2000-03-01") & (F.col("l_shipdate") < "2000-06-01")
    )
    return back.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        fround(F.sum("l_extendedprice")).alias("revenue"),
    ).orderBy("month")


ORACLE["sink_sorted_stats_prune"] = """
SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n_rows,
       floor(round((sum(l_extendedprice)), 6) * 100) / 100 AS revenue
FROM lineitem
WHERE l_shipdate >= '2000-03-01' AND l_shipdate < '2000-06-01'
GROUP BY 1 ORDER BY 1
"""


def sink_bloom_filter_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTERS for point-lookup pruning — the layout
    trick for the case min/max statistics can't help: a point
    predicate on an UNSORTED high-cardinality key (every row group's
    [min,max] spans the whole key space, so stats prune nothing,
    while a per-row-group bloom filter rejects groups that
    definitely lack the probed keys). Write lineitem with
    ``parquet.bloom.filter.enabled#l_partkey`` and re-read with an
    IN-list — the filter is pushed to the scan (plan-asserted in
    tests/test_scale.py) and the reader consults the blooms before
    decoding pages. The oracle proves the bloom layout drops nothing
    (false positives cost IO, never rows). Complements
    ``sink_sorted_stats_prune`` (range predicates / clustered
    layout) and ``sink_zorder_prune`` (multi-column)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    out = os.path.join(scratch_dir(prefix="mrs_bloom_"), "lineitem")
    (
        li.repartition(8)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "50000")
        .parquet(out)
    )
    keys = [1, 7, 13, 19, 23]
    back = spark.read.parquet(out).filter(F.col("l_partkey").isin(keys))
    return (
        back.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("l_partkey")
    )


ORACLE["sink_bloom_filter_prune"] = """
SELECT l_partkey, count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_partkey IN (1, 7, 13, 19, 23)
GROUP BY 1 ORDER BY 1
"""


def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table storage: orders and customer both bucketed on
    the customer key, then joined — the recurring-join layout that
    converts every future join on the bucket key from a full shuffle
    into a local merge (zero-Exchange plan asserted in
    tests/test_scale.py). The query proves the bucketed write+read
    loses nothing: per-segment order counts and revenue must match
    the plain-parquet oracle."""
    from mapreduce_rust_spark.functions.numeric import fround
    from mapreduce_rust_spark.sinks import read_table, write_bucketed_table

    path = scratch_dir(prefix="mrs_bucket_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    for name, df, key in (
        ("mrs_b_orders", orders, "o_custkey"),
        ("mrs_b_customer", cust, "c_custkey"),
    ):
        (
            df.write.mode("overwrite")
            .option("path", os.path.join(path, name))
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )
    o, c = read_table(spark, "mrs_b_orders"), read_table(spark, "mrs_b_customer")
    # money sums go through DECIMAL: the bucketed layout changes the
    # summation order, and at ~1e9 magnitude double addition noise
    # exceeds what fround's pre-round can absorb. Decimal cents are
    # exact and order-independent in both engines; the final DOUBLE
    # cast of an integer-cent value is deterministic.
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE["sink_bucketed_join"] = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON c_custkey = o_custkey
GROUP BY 1 ORDER BY 1
"""


def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet generations of the same
    dataset — the older one lacking a column — read together with
    ``mergeSchema``; missing columns surface as NULLs. This is how a
    100 TB lake absorbs schema additions without rewriting history.
    Split is deterministic (orderkey parity stands in for 'written
    before/after the column existed')."""
    base = scratch_dir(prefix="mrs_evo_")
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    from mapreduce_rust_spark.functions.numeric import fround

    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fround(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
        .orderBy("priority")
    )


ORACLE["source_schema_evolution"] = """
WITH merged AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT coalesce(o_orderpriority, '<pre-schema>') AS priority,
       count(*) AS n_orders,
       floor(round(avg(o_totalprice), 8) * 10000) / 10000 AS avg_price
FROM merged
GROUP BY 1 ORDER BY 1
"""


def zorder_value(x, y, xbits: int, ybits: int):
    """Morton/Z-value of ``(x, y)``: ``x``'s bits occupy the even
    output positions and ``y``'s the odd ones, so sorting by the
    result clusters rows that are close in BOTH dimensions into the
    same files. Pure integer arithmetic (floor-div + modulo), no
    engine-specific bit intrinsics — the identical expression runs in
    the DuckDB oracle and in a plain SQL view over the written table."""
    terms = [
        (F.floor(x / F.lit(2**i)) % 2 * F.lit(4**i)).cast("bigint")
        for i in range(xbits)
    ] + [
        (F.floor(y / F.lit(2**i)) % 2 * F.lit(2 * 4**i)).cast("bigint")
        for i in range(ybits)
    ]
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def sink_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-dimensional Z-order clustering (the multi-column upgrade of
    ``sink_sorted_stats_prune``): events keyed by (user bucket,
    hour-of-day) are written sorted by their interleaved Morton value,
    so every parquet file covers a small 2-D tile and its footer
    min/max statistics on BOTH plain columns are tight. A 2-D box
    predicate — the shape single-column sort layouts cannot prune on
    the secondary dimension — then skips almost every file
    (footer-level skip counts asserted in tests/test_scale.py: the
    z-layout skips ≥10/16 files, an id-sorted layout 0). This is the
    Delta OPTIMIZE ZORDER / Iceberg multi-sort technique in vanilla
    parquet; at 100 TB the one range shuffle at write time is
    amortized over every future selective read. The oracle proves the
    clustered layout loses nothing under the box query."""
    from mapreduce_rust_spark.functions.numeric import fround

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        (F.col("user_id") % 64).alias("ub"),
        F.hour("ts").cast("bigint").alias("hr"),
    )
    out = os.path.join(scratch_dir(prefix="mrs_zorder_"), "events")
    (
        ev.withColumn("z", zorder_value(F.col("ub"), F.col("hr"), 6, 5))
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("ub").between(16, 31) & F.col("hr").between(8, 15)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fround(F.sum("value")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


ORACLE["sink_zorder_prune"] = """
SELECT event_type, count(*) AS n_events,
       floor(round((sum(value)), 6) * 100) / 100 AS sum_value
FROM events
WHERE user_id % 64 BETWEEN 16 AND 31
  AND CAST(hour(ts) AS BIGINT) BETWEEN 8 AND 15
GROUP BY 1 ORDER BY 1
"""


_BAD_CSV_LINES = [
    "not-a-number,en",              # wrong arity (2 cols)
    "xx,zz,also-not-a-number",      # doc_id and n_chars both unparseable
    "1,en,7,one-column-too-many",   # wrong arity (4 cols)
]


def format_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness — the operational half of a CSV
    connector: documents written as clean CSV, a junk shard of
    {n_bad} hand-corrupted lines dropped into the same directory,
    then read back in PERMISSIVE mode with a
    ``columnNameOfCorruptRecord`` column. Bad rows are QUARANTINED
    (nulls + raw line captured), never dropped silently and never
    failing the job — at 100 TB a FAILFAST read dies hours in on one
    truncated upload, and DROPMALFORMED lies about coverage; the
    corrupt-record census below is the report a pipeline alerts on.
    Output: total/good/quarantined counts + a checksum over the
    surviving rows proving the good data is byte-complete."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = os.path.join(scratch_dir(prefix="mrs_badcsv_"), "data")
    docs.write.mode("overwrite").format("csv").save(out)
    with open(os.path.join(out, "part-junk.csv"), "w") as f:
        f.write("\n".join(_BAD_CSV_LINES) + "\n")
    schema = "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt STRING"
    back = (
        spark.read.format("csv")
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .load(out)
    )
    # Spark refuses a query that references ONLY the corrupt-record
    # column of an un-materialized CSV scan; caching the (tiny) parsed
    # frame is the documented pattern
    back = back.cache()
    return back.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("_corrupt").isNull().cast("bigint")).alias("n_good"),
        F.sum(F.col("_corrupt").isNotNull().cast("bigint")).alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("n_chars"))).alias(
            "good_chars_checksum"
        ),
    )


ORACLE["format_csv_malformed"] = f"""
SELECT count(*) + {len(_BAD_CSV_LINES)} AS n_total,
       count(*) AS n_good,
       CAST({len(_BAD_CSV_LINES)} AS BIGINT) AS n_quarantined,
       CAST(sum(n_chars) AS BIGINT) AS good_chars_checksum
FROM documents
"""


def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar Python UDF (Spark 4 ``useArrow=True``):
    completes the engine's Python-boundary matrix — row-pickled UDFs
    (deliberately absent), THIS (Arrow-vectorized scalar), pandas
    UDAF (``udaf_weighted_avg``), mapInArrow (``map_arrow_native``),
    and UDTF (``map_udtf``). The function is exact integer arithmetic
    ((n_chars*31 + len(lang)) % 97) so the oracle reproduces values
    bit-for-bit; the point demonstrated is the boundary itself —
    Arrow batch transfer amortizes serialization ~10-100× over
    row-at-a-time pickling, and this is the ONLY sanctioned way to
    run per-row Python in this engine."""
    from pyspark.sql.functions import udf

    @udf("bigint", useArrow=True)
    def score(n_chars, lang):
        return (n_chars * 31 + len(lang)) % 97

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", score("n_chars", "lang").alias("s"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("s").alias("score_sum"),
            F.min("s").alias("score_min"),
            F.max("s").alias("score_max"),
        )
        .orderBy("lang")
    )


ORACLE["udf_arrow_scalar"] = """
SELECT lang, count(*) AS n_docs,
       CAST(sum((n_chars * 31 + length(lang)) % 97) AS BIGINT) AS score_sum,
       CAST(min((n_chars * 31 + length(lang)) % 97) AS BIGINT) AS score_min,
       CAST(max((n_chars * 31 + length(lang)) % 97) AS BIGINT) AS score_max
FROM documents
GROUP BY 1 ORDER BY 1
"""


BINARYFILE_N = 200  # documents materialized as individual files


def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — the raw-media ingest path the
    multimodal family assumes (one opaque payload per file, as
    crawlers and WebDataset-style dumps deliver it): materialize the
    first {BINARYFILE_N} documents as one text file each (a
    partitionBy write — no driver-side loop), list + read them back
    with ``spark.read.format("binaryFile")``, recover the doc id from
    the directory name, and prove payload integrity by aggregating
    file length and sha256 per doc_id%10 group against the
    table-derived truth. At scale binaryFile distributes file splits
    across executors like any other source and ``content`` stays
    JVM-side; its known limit (no partial reads — a file must fit an
    executor) is exactly why ``payload_metadata`` sniffs cheap fields
    before any decode."""
    out = os.path.join(scratch_dir(prefix="mrs_binfile_"), "docs")
    (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < BINARYFILE_N)
        .select("doc_id", "text")
        .write.partitionBy("doc_id")
        .mode("overwrite")
        .text(out)
    )
    back = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    grp = (
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("bigint") % 10
    ).alias("grp")
    return (
        back.select(grp, "length", F.sha2("content", 256).alias("sha"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("total_bytes"),
            F.countDistinct("sha").alias("n_distinct_sha"),
        )
        .orderBy("grp")
    )


# the text writer terminates every line with \n — the oracle hashes
# text || chr(10) to match the on-disk bytes exactly
ORACLE["source_binaryfile_ingest"] = f"""
SELECT doc_id % 10 AS grp,
       count(*) AS n_files,
       CAST(sum(octet_length(encode(text)) + 1) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT sha256(text || chr(10))) AS BIGINT)
         AS n_distinct_sha
FROM documents WHERE doc_id < {BINARYFILE_N}
GROUP BY 1 ORDER BY 1
"""


def format_fixedwidth_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (mainframe/COBOL copybook) record round-trip —
    the legacy-ingest pattern Spark has no native source for, done
    the scale-correct way: RENDER each customer row to a 50-char
    record (lpad/rpad column layout, sign-char + zero-padded cents
    for the money field so no float formatting is involved), then
    PARSE it back with substring/cast and aggregate the PARSED
    values. Both directions are pure JVM string expressions in
    whole-stage codegen — this is exactly how a production job maps
    fixed-width exports without a row-at-a-time Python parser. The
    aggregate proves the layout loses nothing: counts and sums come
    from the parsed fields, and the oracle replays render+parse."""
    from mapreduce_rust_spark.functions.numeric import fround

    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    rec = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0"),
        F.rpad(F.col("c_name"), 22, " "),
        F.when(cents >= 0, F.lit("+")).otherwise(F.lit("-")),
        F.lpad(F.abs(cents).cast("string"), 13, "0"),
        F.rpad(F.col("c_mktsegment"), 12, " "),
    )
    lines = cust.select(rec.alias("line"))
    parsed = lines.select(
        F.substring("line", 1, 10).cast("bigint").alias("custkey"),
        F.trim(F.substring("line", 11, 22)).alias("name"),
        (
            F.when(F.substring("line", 33, 1) == "-", F.lit(-1)).otherwise(
                F.lit(1)
            )
            * F.substring("line", 34, 13).cast("bigint")
        ).alias("cents"),
        F.trim(F.substring("line", 47, 12)).alias("mktsegment"),
    )
    return (
        parsed.groupBy("mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("custkey").alias("sum_custkey"),
            fround(F.sum("cents") / 100.0, 2).alias("sum_acctbal"),
            F.sum(F.length("name")).alias("sum_name_len"),
        )
        .orderBy("mktsegment")
    )


from mapreduce_rust_spark.functions.numeric import fround_sql as _fws

ORACLE["format_fixedwidth_roundtrip"] = f"""
WITH rendered AS (
  SELECT lpad(CAST(c_custkey AS VARCHAR), 10, '0')
         || rpad(c_name, 22, ' ')
         || CASE WHEN CAST(round(c_acctbal * 100) AS BIGINT) >= 0
                 THEN '+' ELSE '-' END
         || lpad(CAST(abs(CAST(round(c_acctbal * 100) AS BIGINT)) AS VARCHAR), 13, '0')
         || rpad(c_mktsegment, 12, ' ') AS line
  FROM customer
),
parsed AS (
  SELECT CAST(substr(line, 1, 10) AS BIGINT) AS custkey,
         trim(substr(line, 11, 22)) AS name,
         (CASE WHEN substr(line, 33, 1) = '-' THEN -1 ELSE 1 END)
           * CAST(substr(line, 34, 13) AS BIGINT) AS cents,
         trim(substr(line, 47, 12)) AS mktsegment
  FROM rendered
)
SELECT mktsegment,
       count(*) AS n,
       CAST(sum(custkey) AS BIGINT) AS sum_custkey,
       {_fws("sum(cents) / 100.0", 2)} AS sum_acctbal,
       CAST(sum(length(name)) AS BIGINT) AS sum_name_len
FROM parsed GROUP BY mktsegment ORDER BY mktsegment
"""


COMPACT_TARGET_BYTES = 64 * 1024  # per-output-file byte budget (toy scale; 128-512 MB in production)


def sink_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planning — the OPTIMIZE/bin-pack step
    every parquet lake runs when streaming ingest leaves thousands of
    KB-sized files: given a manifest of (partition, bytes), assign
    contiguous runs of files to output groups of ~{target} bytes and
    report each group's fill. The manifest here is the logical
    (event_type, day) partition ledger with exact encoded-byte
    accounting derived from the table (in production it is the
    filesystem listing — one metadata row per file; the planner is
    identical). The cumulative-bytes prefix sum that drives bin
    assignment is the BANDED two-phase pattern (``abc_analysis``):
    per-type subtotals prefix over the |types|-sized frame, days
    prefix within their type — never a manifest-sized single
    partition, because at 100 TB the manifest itself is big data.
    Output: per-bin file count, bytes, target-fill ratio."""
    ev = load_table(spark, sf_dir, "events")
    manifest = ev.groupBy(
        F.col("event_type").alias("pt"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("props") + F.lit(64)).cast("bigint").alias("bytes"),
    )
    tsum = manifest.groupBy("pt").agg(F.sum("bytes").alias("tbytes"))
    tsum1, w0 = single_partition(tsum, by=["pt"])
    w_prev = w0.rowsBetween(W.unboundedPreceding, -1)
    offsets = tsum1.select(
        "pt", F.coalesce(F.sum("tbytes").over(w_prev), F.lit(0)).alias("off")
    )
    w_in = (
        W.partitionBy("pt").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = manifest.join(F.broadcast(offsets), "pt").select(
        "pt",
        "day",
        "bytes",
        (F.col("off") + F.sum("bytes").over(w_in) - F.col("bytes")).alias(
            "cum_before"
        ),
    )
    binned = cum.select(
        F.floor(F.col("cum_before") / COMPACT_TARGET_BYTES)
        .cast("bigint")
        .alias("bin"),
        "bytes",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").cast("bigint").alias("bytes"),
            F.floor(
                F.sum("bytes") * 10000 / F.lit(COMPACT_TARGET_BYTES)
            ).cast("bigint").alias("fill_bp"),
        )
        .orderBy("bin")
    )


sink_compaction_plan.__doc__ = sink_compaction_plan.__doc__.format(
    target=COMPACT_TARGET_BYTES
)


ORACLE["sink_compaction_plan"] = f"""
WITH manifest AS (
  SELECT event_type AS pt, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n_rows,
         CAST(sum(length(props) + 64) AS BIGINT) AS bytes
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT pt, day, bytes,
         sum(bytes) OVER (ORDER BY pt, day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
  FROM manifest
),
binned AS (
  SELECT CAST(floor(coalesce(cum_before, 0) / {COMPACT_TARGET_BYTES}) AS BIGINT) AS bin,
         bytes
  FROM cum
)
SELECT bin, count(*) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bytes,
       CAST(floor(sum(bytes) * 10000 / {COMPACT_TARGET_BYTES}) AS BIGINT) AS fill_bp
FROM binned GROUP BY bin ORDER BY bin
"""


def table_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file audit — the VACUUM precursor every table format
    runs: list what is PHYSICALLY on disk under the table root,
    anti-join it against the catalog manifest, and report data that
    exists but is referenced by nothing (failed-job leftovers,
    half-deleted partitions — silent storage cost and a compliance
    risk). Here the layout is REAL: events materialize
    hive-partitioned by event_type, the manifest registers only the
    even-md5 partitions (a deterministic function of the data, which
    is what makes the audit value-checkable by an engine that never
    sees the filesystem), and the directory listing comes back
    through Spark's own partition discovery. Orphans are reported
    with their row/byte exposure. Listing and anti-join both scale:
    discovery is metadata-only, the census reads only orphan
    partitions (partition pruning on the discovered column)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "props"
    )
    root = os.path.join(scratch_dir(prefix="mrs_orphan_"), "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(root)
    manifest_pred = hash64(F.concat(F.lit("man:"), F.col("event_type"))) % 2 == 0
    back = spark.read.parquet(root)
    return (
        back.filter(~manifest_pred)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length("props")).cast("bigint").alias("bytes_exposed"),
        )
        .orderBy("event_type")
    )


ORACLE["table_orphan_files"] = f"""
SELECT event_type, count(*) AS n_rows,
       CAST(sum(length(props)) AS BIGINT) AS bytes_exposed
FROM events
WHERE {hash64_sql("'man:' || event_type")} % 2 <> 0
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "sink_compaction_plan": sink_compaction_plan,
    "table_orphan_files": table_orphan_files,
    "format_fixedwidth_roundtrip": format_fixedwidth_roundtrip,
    "source_binaryfile_ingest": source_binaryfile_ingest,
    "format_csv_roundtrip": format_csv_roundtrip,
    "format_csv_malformed": format_csv_malformed,
    "udf_arrow_scalar": udf_arrow_scalar,
    "format_json_roundtrip": format_json_roundtrip,
    "format_orc_roundtrip": format_orc_roundtrip,
    "format_xml_roundtrip": format_xml_roundtrip,
    "sink_partitioned_parquet": sink_partitioned_parquet,
    "sink_bucketed_join": sink_bucketed_join,
    "source_schema_evolution": source_schema_evolution,
    "sink_sorted_stats_prune": sink_sorted_stats_prune,
    "sink_bloom_filter_prune": sink_bloom_filter_prune,
    "sink_zorder_prune": sink_zorder_prune,
}
