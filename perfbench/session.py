"""Session start and warm-up: everything before the first timed query.

The warm-up runs each engine path the workloads use once, so that
one-time costs (JVM class loading and codegen, the parquet reader, the
streaming engine and its foreachBatch callback server, the Python
datasource workers, the OS page cache over the inputs) land in set-up
time instead of on whichever slug happens to use the path first.

Paths a workload's slugs do not take are not warmed, because set-up is
most of a run's time: the streaming engine and the Python datasource
reader are warmed only for workloads that list them, and pandas UDFs
(no slug plans a Python node) and the Python datasource writer for
none. A slug added to a workload that takes one of them needs its
warm-up added here or in the workload's ``warm`` set.
"""

from __future__ import annotations

import glob
import os


# Initial driver heap. G1 otherwise starts small and grows the heap by
# anything from nothing to over half a gigabyte from run to run, which
# split the peak resident memory of stream_write into two groups about
# a third apart.
# Starting at 1 GB, which the slugs rarely outgrow, leaves growth
# possible but rare. Must not exceed $SPARK_GRAFT_DRIVER_MEM.
INITIAL_HEAP = "1g"


def start(work_dir: str, app_name: str):
    from mapreduce_rust_spark import get_spark

    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        app_name,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{INITIAL_HEAP}",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str, paths: frozenset[str]) -> None:
    """Warm the batch reader and the page cache, plus the optional
    ``paths`` a workload's slugs take: ``"stream"`` (the streaming
    engine and ``foreachBatch``) and ``"pysource"`` (the Python
    datasource reader and its workers)."""
    from mapreduce_rust_spark.session import scratch_dir
    from mapreduce_rust_spark.sources.pysource import _register_source
    from mapreduce_rust_spark.streaming.queries import read_stream_table, run_available_now

    _noop(spark.range(1_000_000).selectExpr("sum(id) as s"))
    _noop(spark.read.parquet(os.path.join(sf_dir, "nation.parquet")))
    if "stream" in paths:
        run_available_now(read_stream_table(spark, sf_dir, "nation").groupBy().count(), "complete")
    if "pysource" in paths:
        _register_source(spark)
        _noop(spark.read.format("mrs_range").load().limit(1))
    if "stream" in paths:
        (
            read_stream_table(spark, sf_dir, "nation")
            .writeStream.foreachBatch(lambda bdf, bid: bdf.count())
            .trigger(availableNow=True)
            .option("checkpointLocation", scratch_dir(prefix="perfbench_warm_fb_"))
            .start()
            .awaitTermination()
        )
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(path, "rb") as fh:
            while fh.read(1 << 24):
                pass
