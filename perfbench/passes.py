"""Closed-loop passes over a workload's slugs, with honest accounting.

One client runs the slugs one after another. Each slug is the query
call (``build``) followed by a ``noop`` write that forces the whole
physical plan (``exec``), as ``bench.py`` does. A slug that raises, or
that is missing from the registry, is recorded with its exception
class and keeps its elapsed time: a failure is counted and never
lowers a wall time or a percentile.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass


class MissingSlug(Exception):
    """A frozen slug that the registry no longer provides."""


@dataclass
class SlugRun:
    slug: str
    build_s: float
    exec_s: float
    latency_s: float
    error: str | None = None


@dataclass
class PassResult:
    phase: str
    wall_s: float
    runs: list[SlugRun]


def job_group(slug: str, phase: str, step: str) -> str:
    """Spark job group of one step of one slug in one pass."""
    return f"{slug}@{phase}/{step}"


def run_slug(spark, sf_dir: str, slug: str, fn, phase: str, tracer=None) -> SlugRun:
    """Run one slug: query call, then ``noop`` write. With a tracer,
    each step runs inside a traced span and the executed plan is
    inspected between the two. That plans the query a second time,
    which is why the timed, untraced run never does it."""
    t0 = time.perf_counter()
    build_s = exec_s = 0.0
    error = None
    try:
        if fn is None:
            raise MissingSlug(slug)
        spark.sparkContext.setJobGroup(job_group(slug, phase, "build"), slug)
        with _step(tracer, "build"):
            df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        build_s = t1 - t0
        if tracer is not None:
            spark.sparkContext.setJobGroup(job_group(slug, phase, "plan"), slug)
            with tracer.step("plan"):
                tracer.inspect_plan(df)
        spark.sparkContext.setJobGroup(job_group(slug, phase, "exec"), slug)
        t2 = time.perf_counter()
        with _step(tracer, "exec"):
            df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t2
    except Exception as e:  # noqa: BLE001 — a failing slug is counted, not fatal
        error = type(e).__name__
    finally:
        latency_s = time.perf_counter() - t0
        # operators may persist() intermediates; keep caches from
        # flattering the next slug
        spark.catalog.clearCache()
    return SlugRun(slug, build_s, exec_s, latency_s, error)


def _step(tracer, name: str):
    return nullcontext() if tracer is None else tracer.step(name)


def run_pass(spark, sf_dir: str, slugs, qmap, phase: str, tracer=None) -> PassResult:
    t0 = time.perf_counter()
    runs = []
    for slug in slugs:
        if tracer is not None:
            tracer.begin_slug(slug)
        runs.append(run_slug(spark, sf_dir, slug, qmap.get(slug), phase, tracer))
        if tracer is not None:
            tracer.end_slug(runs[-1])
    return PassResult(phase, time.perf_counter() - t0, runs)


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median.

    A weighted mean of all order statistics, the i-th of n weighted by
    the mass a Beta((n+1)/2, (n+1)/2) distribution puts on
    [(i-1)/n, i/n]. Pooled slug latencies fall into groups, one per
    slug; the plain median is a single order statistic and jumps from
    one group to the next when one slug's latency shifts past the
    middle, the weighted mean moves smoothly.
    """
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2
    # midpoint rule, 64 points per interval, so neither end point of the
    # density is evaluated; dividing by the weights' sum corrects the
    # small integration error
    points = 64
    weights = []
    for i in range(n):
        ts = ((i + (k + 0.5) / points) / n for k in range(points))
        weights.append(sum(math.exp((a - 1) * math.log(t * (1 - t))) for t in ts))
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def summarize(
    cold: PassResult, warm: list[PassResult], mismatched: set[str], settle: list[PassResult] = ()
) -> dict:
    """End-to-end figures of one run.

    ``failed`` counts every timed execution that raised, plus every
    execution of a slug whose checked output disagreed with its oracle.
    Failed executions stay in the walls and the latency median, which
    is the Harrell-Davis estimate over every warm execution.
    ``settle`` passes, run between the cold and the warm passes, count
    towards ``attempted`` and ``failed`` but not towards any time.
    """
    runs = cold.runs + [r for p in [*settle, *warm] for r in p.runs]
    failed = [r for r in runs if r.error is not None or r.slug in mismatched]
    warm_lat = [r.latency_s for p in warm for r in p.runs]
    return {
        "attempted": len(runs),
        "failed": len(failed),
        "errors": sorted({f"{r.slug}: {r.error or 'OracleMismatch'}" for r in failed}),
        "cold_wall_s": cold.wall_s,
        "warm_wall_s": statistics.median(p.wall_s for p in warm),
        "query_p50_s": hd_median(warm_lat),
        "ok_frac": 1.0 - len(failed) / len(runs),
    }
