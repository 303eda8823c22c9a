"""Spans and per-layer figures of the traced run.

Spans form the tree pass -> slug -> {build, plan, exec}, next to one
span per set-up step. Micro-batch spans (from the streaming listener)
and stage spans (from the status store) hang below the step they ran
in. Spans are kept in memory and written out once, at the end of the
run.

A layer's self time is the time during which its span is the innermost
one running. Every instant of a pass belongs to exactly one innermost
span, so the self times of one pass add up to its wall time.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench import collectors
from perfbench.passes import job_group

# innermost-first order of the layers a pass is split into
LAYER_DEPTH = {
    "harness": 1,
    "build": 2,
    "catalyst": 2,
    "exec_driver": 2,
    "stream_batch": 3,
    "stages": 4,
}
STEP_LAYER = {"build": "build", "plan": "catalyst", "exec": "exec_driver"}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Split ``root``'s interval among layers: each instant goes to the
    deepest span covering it."""
    inside = [s for s in spans if s.layer in LAYER_DEPTH and s.end > root.start and s.start < root.end]
    cuts = sorted({root.start, root.end} | {min(max(t, root.start), root.end) for s in inside for t in (s.start, s.end)})
    out = dict.fromkeys(LAYER_DEPTH, 0.0)
    for a, b in itertools.pairwise(cuts):
        mid = (a + b) / 2
        covering = [s for s in inside if s.start <= mid < s.end]
        layer = max(covering, key=lambda s: LAYER_DEPTH[s.layer]).layer if covering else "harness"
        out[layer] += b - a
    return out


def _zero_figures() -> dict[str, float]:
    names = (
        "plans.build_s plans.build_jobs plans.build_task_s "
        "catalyst.plan_s catalyst.plan_nodes catalyst.exchanges catalyst.sort_merge_joins "
        "catalyst.broadcast_joins catalyst.python_nodes "
        "exec.exec_s exec.jobs exec.stages"
    ).split()
    names += [f"exec.{f}" for f in collectors.STAGE_FIELDS]
    return dict.fromkeys(names, 0.0)


class Tracer:
    """Collects spans and layer figures around calls into the engine.

    Used only by the traced run: it adds a streaming listener, reads the
    status stores after every step and plans each query a second time."""

    def __init__(self, spark, cores: int, index_seconds: dict):
        self._spark = spark
        self._cores = cores
        self._index_seconds = index_seconds
        self._ids = itertools.count()
        self._stages = collectors.StageReader(spark)
        self._sql = collectors.SqlReader(spark)
        self._listener = collectors.StreamListener()
        self._listening = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._phase = ""
        self._slug = ""

    # -- span plumbing ---------------------------------------------------
    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), parent, name, layer, time.time())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def _close(self) -> Span:
        span = self._stack.pop()
        span.end = time.time()
        return span

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """Add a finished span at the top level (set-up steps)."""
        self.spans.append(Span(next(self._ids), None, name, layer, start, end))

    def listen(self, on: bool) -> None:
        """Attach or detach the streaming listener (detached for the
        untraced passes that measure the tracing overhead)."""
        if on and not self._listening:
            self._spark.streams.addListener(self._listener)
        elif not on and self._listening:
            self._spark.streams.removeListener(self._listener)
        self._listening = on

    # -- passes ----------------------------------------------------------
    def begin_pass(self, phase: str) -> None:
        self._phase = phase
        self._stages.drain()
        self._sql.skip_new()
        self._progress_mark = len(self._listener.progress)
        self._index_before = dict(self._index_seconds)
        self._fig = _zero_figures()
        self._python = {"run_s": 0.0, "init_s": 0.0, "bytes_sent": 0.0, "bytes_returned": 0.0}
        self._open(f"pass:{phase}", "harness")

    def end_pass(self) -> dict[str, float]:
        span = self._close()
        fig = self._fig
        wall = span.end - span.start
        fig["exec.core_util"] = fig["exec.task_s"] / (fig["exec.exec_s"] * self._cores) if fig["exec.exec_s"] else 0.0
        for k, v in self._python.items():
            fig[f"python.{k}"] = v
        for k, v in collectors.stream_figures(self._listener.progress[self._progress_mark :]).items():
            fig[f"stream.{k}"] = v
        changed = {k: v - self._index_before.get(k, 0.0) for k, v in self._index_seconds.items() if v != self._index_before.get(k)}
        fig["index.builds"] = float(len(changed))
        fig["index.build_s"] = sum(changed.values())
        for layer, secs in self_times(self.spans, span).items():
            fig[f"self.{layer}_s"] = secs
        fig["trace.pass_wall_s"] = wall
        span.attrs["figures"] = dict(fig)
        return fig

    # -- slugs and steps -------------------------------------------------
    def begin_slug(self, slug: str) -> None:
        self._slug = slug
        self._open(slug, "harness")

    def end_slug(self, run) -> None:
        self._stages.drain()
        for k, v in self._sql.python_figures().items():
            self._python[k] += v
        span = self._close()
        span.attrs.update(error=run.error, latency_s=run.latency_s)

    @contextmanager
    def step(self, name: str):
        runs_mark = len(self._listener.run_ids)
        progress_mark = len(self._listener.progress)
        step = self._open(name, STEP_LAYER[name])
        try:
            yield
        finally:
            self._close()
            self._collect_step(name, step, runs_mark, progress_mark)

    def _collect_step(self, name: str, step: Span, runs_mark: int, progress_mark: int) -> None:
        self._stages.drain()
        job_ids = self._stages.job_ids(job_group(self._slug, self._phase, name))
        # stream jobs run under the stream's run id, not the slug's group
        for run_id in self._listener.run_ids[runs_mark:]:
            job_ids += self._stages.job_ids(run_id)
        for p in self._listener.progress[progress_mark:]:
            start, end = collectors.batch_span(p)
            self.spans.append(
                Span(next(self._ids), step.id, f"batch:{p.batchId}", "stream_batch", start, end, {"run_id": str(p.runId)})
            )
        stages = self._stages.stages(job_ids)
        for st in stages:
            self.spans.append(Span(next(self._ids), step.id, f"stage:{st['stage']}", "stages", st["start"], st["end"], st))
        fig = self._fig
        dur = step.end - step.start
        step.attrs["jobs"] = len(job_ids)
        if name == "build":
            fig["plans.build_s"] += dur
            fig["plans.build_jobs"] += len(job_ids)
            fig["plans.build_task_s"] += sum(st["task_s"] for st in stages)
        elif name == "plan":
            fig["catalyst.plan_s"] += step.attrs.get("plan_s", dur)
        else:
            fig["exec.exec_s"] += dur
            fig["exec.jobs"] += len(job_ids)
            fig["exec.stages"] += len(stages)
            for f in collectors.STAGE_FIELDS:
                fig[f"exec.{f}"] += sum(st[f] for st in stages)

    def inspect_plan(self, df) -> None:
        t0 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        self._stack[-1].attrs["plan_s"] = time.perf_counter() - t0
        for k, v in collectors.plan_counts(plan.treeString()).items():
            self._fig[f"catalyst.{k}"] += v

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
