"""Per-slug profiling harness for the optimization rounds: for each
named slug, build the plan, dump ``explain("formatted")`` to
``plans/<tag>/<slug>_<suffix>.txt``, and time TWO noop-sink
materializations (cold = first in this session, warm = second) so a
before/after A/B is one command per side:

    python tools/profile_slugs.py before slug [slug ...]
    python tools/profile_slugs.py after  slug [slug ...]

Timings print per slug; plans land under plans/r10/. The session uses
the same warmup as bench.py (JVM, parquet reader, OS page cache) so
cold numbers are comparable to bench first-pass numbers.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r10"
)


def main() -> int:
    suffix = sys.argv[1]
    slugs = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mapreduce_rust_spark import get_spark
    from mapreduce_rust_spark.registry import queries

    spark = get_spark("profile")
    spark.range(1_000_000).selectExpr("sum(id) as s").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    import glob as _glob

    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(p, "rb") as fh:
            while fh.read(1 << 24):
                pass

    os.makedirs(PLANS_DIR, exist_ok=True)
    qmap = queries()
    out: dict[str, dict] = {}
    for name in slugs:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        with open(os.path.join(PLANS_DIR, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_cold = time.perf_counter() - t0
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t_warm = time.perf_counter() - t0
        spark.catalog.clearCache()
        out[name] = {
            "build_s": round(t_build, 3),
            "cold_s": round(t_cold, 3),
            "warm_s": round(t_warm, 3),
            "exchanges": plan.count("Exchange"),
            "reused_exchanges": plan.count("ReusedExchange"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "python": plan.count("EvalPython")
            + plan.count("MapInPandas")
            + plan.count("MapInArrow")
            + plan.count("FlatMapGroupsInPandas"),
        }
        print(f"PROFILE {name}: {json.dumps(out[name])}", flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
