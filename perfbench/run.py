"""Benchmark of the mapreduce_rust_spark engine, run from outside.

    python3 perfbench/run.py --workload mix_small --seed 1 --seconds 14 --trace 0

Generates the workload's tables from the seed, starts a fresh Spark
session, runs a cold pass and then warm passes over the workload's
frozen slugs for ``--seconds`` seconds, checks every slug's output
against its DuckDB oracle, and prints one JSON object as the last line
of standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` is a separate, traced run that reports the per-layer
metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
REQUIRED = (
    "mapreduce_rust_spark/registry.py",
    "tools/gen_scale_data.py",
    "tools/check_correctness.py",
)

# name -> (unit, better); BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cold_wall_s": ("s", "lower"),
    "warm_wall_s": ("s", "lower"),
    "query_p50_s": ("s", "lower"),
    "ok_frac": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}


def _per_layer() -> dict[str, tuple[str, str]]:
    s, n, b = "s", "count", "bytes"
    table = {
        "session.start_s": s,
        "registry.load_s": s,
        "session.warmup_s": s,
        "plans.build_s": s,
        "plans.build_jobs": n,
        "plans.build_task_s": s,
        "index.builds": n,
        "index.build_s": s,
        "catalyst.plan_s": s,
        "catalyst.plan_nodes": n,
        "catalyst.exchanges": n,
        "catalyst.sort_merge_joins": n,
        "catalyst.broadcast_joins": n,
        "catalyst.python_nodes": n,
        "exec.exec_s": s,
        "exec.jobs": n,
        "exec.stages": n,
        "exec.tasks": n,
        "exec.task_s": s,
        "exec.cpu_s": s,
        "exec.gc_s": s,
        "exec.core_util": "ratio",
        "exec.shuffle_read_bytes": b,
        "exec.shuffle_write_bytes": b,
        "exec.spill_bytes": b,
        "exec.input_rows": n,
        "exec.input_bytes": b,
        "exec.output_bytes": b,
        "python.run_s": s,
        "python.init_s": s,
        "python.bytes_sent": b,
        "python.bytes_returned": b,
        "stream.batches": n,
        "stream.trigger_s": s,
        "stream.add_batch_s": s,
        "stream.planning_s": s,
        "stream.wal_commit_s": s,
        "stream.state_commit_s": s,
        "stream.state_rows": n,
        "stream.state_bytes": b,
        "stream.input_rows": n,
        "self.harness_s": s,
        "self.build_s": s,
        "self.catalyst_s": s,
        "self.exec_driver_s": s,
        "self.stream_batch_s": s,
        "self.stages_s": s,
        "trace.pass_wall_s": s,
        "trace.overhead_s": s,
    }
    return {k: (u, "higher" if k == "exec.core_util" else "lower") for k, u in table.items()}


PER_LAYER = _per_layer()

# Untimed warm passes between the cold pass and the timed ones. The JIT
# is still compiling the slugs' driver-side code paths over the first
# repeats, and a pass wall drops by a fifth to a third from the first
# repeat to the third.
SETTLE_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable from the Python workers Spark starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # HotSpot writes its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    for path in (ROOT, os.path.join(ROOT, "tools")):
        if path not in sys.path:
            sys.path.insert(0, path)


def check_outputs(spark, sf_dir: str, slugs, qmap) -> dict[str, str]:
    """Collect each slug's result once, outside the timed passes, and
    compare it with the slug's DuckDB oracle on the same files. Returns
    the slugs that failed the check, with the reason."""
    from check_correctness import check_one, duck_con

    con = duck_con(sf_dir)
    try:
        bad = {}
        for slug in slugs:
            if slug not in qmap:
                bad[slug] = "missing from the registry"
                continue
            ok, problem = check_one(spark, con, slug, sf_dir)
            if not ok:
                bad[slug] = problem or "no rows"
        return bad
    finally:
        con.close()


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    from perfbench.rss import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                pass
    deadline = time.monotonic() + 30
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        if not descendants(os.getpid()):
            return


def _median_figures(figs: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(f[k] for f in figs) for k in figs[0]}


def run(args) -> dict:
    from perfbench.inputs import ensure_inputs, table_stats
    from perfbench.passes import run_pass, summarize
    from perfbench.rss import PeakRss
    from perfbench.session import start, warm_up
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    sf_dir = ensure_inputs(os.path.join(WORK, "data"), workload.sf, args.seed)
    inputs = {"sf": workload.sf, "dir": os.path.relpath(sf_dir, ROOT), "tables": table_stats(sf_dir)}
    inputs["prepare_s"] = time.perf_counter() - t_gen
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    with PeakRss() as rss:
        w0 = time.time()
        t0 = time.perf_counter()
        spark = start(WORK, f"perfbench-{args.workload}")
        t1 = time.perf_counter()
        from mapreduce_rust_spark.registry import queries

        qmap = queries()
        t2 = time.perf_counter()
        warm_up(spark, sf_dir, workload.warm)
        t3 = time.perf_counter()
        setup = {"session.start_s": t1 - t0, "registry.load_s": t2 - t1, "session.warmup_s": t3 - t2}

        tracer = None
        if args.trace:
            from mapreduce_rust_spark.operators.dedup import INDEX_BUILD_SECONDS

            from perfbench.trace import Tracer

            tracer = Tracer(spark, cores, INDEX_BUILD_SECONDS)
            for name, secs in setup.items():
                tracer.record(name, "setup", w0, w0 + secs)
                w0 += secs
            tracer.listen(True)
            tracer.begin_pass("cold")

        slugs = workload.slugs
        cold = run_pass(spark, sf_dir, slugs, qmap, "cold", tracer)
        warm, traced_walls, untraced_walls, figs = [], [], [], []
        cold_fig = tracer.end_pass() if tracer else None
        if tracer is not None:
            tracer.listen(False)
        settle = [run_pass(spark, sf_dir, slugs, qmap, "settle") for _ in range(SETTLE_PASSES)]
        deadline = time.perf_counter() + args.seconds
        while not warm or time.perf_counter() < deadline or (tracer and not figs):
            if tracer is None:
                warm.append(run_pass(spark, sf_dir, slugs, qmap, "warm"))
                continue
            # alternate untraced and traced warm passes; their difference
            # is the tracing overhead
            tracer.listen(False)
            untraced = run_pass(spark, sf_dir, slugs, qmap, "warm")
            untraced_walls.append(untraced.wall_s)
            tracer.listen(True)
            tracer.begin_pass("warm")
            traced = run_pass(spark, sf_dir, slugs, qmap, "warm", tracer)
            figs.append(tracer.end_pass())
            traced_walls.append(traced.wall_s)
            warm += [untraced, traced]
        peak_rss_mb = rss.peak_bytes / 2**20

    mismatched = check_outputs(spark, sf_dir, slugs, qmap)
    summary = summarize(cold, warm, set(mismatched), settle)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "inputs": inputs,
        "setup": setup,
        "mismatched": mismatched,
        "summary": summary,
        "peak_memory_bytes_by_command": rss.peak_parts,
        "passes": [
            {"phase": p.phase, "wall_s": p.wall_s, "slugs": [vars(r) for r in p.runs]} for p in [cold, *settle, *warm]
        ],
    }
    if tracer is None:
        metrics = {
            "setup_s": sum(setup.values()),
            "cold_wall_s": summary["cold_wall_s"],
            "warm_wall_s": summary["warm_wall_s"],
            "query_p50_s": summary["query_p50_s"],
            "ok_frac": summary["ok_frac"],
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END
    else:
        metrics = _median_figures(figs)
        metrics.update(setup)
        # index builds happen on first use, so they are read off the cold pass
        metrics["index.builds"] = cold_fig["index.builds"]
        metrics["index.build_s"] = cold_fig["index.build_s"]
        metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(untraced_walls)
        detail["cold_figures"] = cold_fig
        detail["index_build_accounting"] = "inclusive: a nested build (pairs-k3-* holds sig-k3) is charged to both"
        units = PER_LAYER
        spans_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path)
        detail["spans"] = os.path.relpath(spans_path, ROOT)
    detail["metrics"] = metrics
    stop_spark(spark)
    return {
        "correct": not mismatched and summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k][0]} for k in units},
        "detail": detail,
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    configure_environment()
    result = run(args)
    detail = result.pop("detail")
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for name, t in detail["inputs"]["tables"].items():
        print(f"input {name}: {t['rows']} rows, {t['bytes']} bytes")
    for slug, why in detail["mismatched"].items():
        print(f"FAILED CHECK {slug}: {why}")
    for err in detail["summary"]["errors"]:
        print(f"FAILED {err}")
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"details: {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
