"""Layer collectors: read Spark's own bookkeeping from outside the engine.

Everything here is used by the traced run only. It reads:

* stages, through the core status store (``sc._jsc.sc().statusStore()``),
  which keeps its data with the UI off;
* Python-worker metrics, through the SQL status store
  (``spark._jsparkSession.sharedState().statusStore()``): the plan
  metrics of each SQL execution and their formatted values;
* micro-batches, through a ``StreamingQueryListener``. Stream jobs run
  on the stream's own thread under a job group named after the run id,
  so they are found through the run ids the listener reports;
* the executed plan of a query, counting its nodes by kind.
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.sparkfmt import parse_value

# SQL metric name -> key of the python.* layer
PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "init_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}

STAGE_FIELDS = (
    "tasks",
    "task_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_rows",
    "input_bytes",
    "output_bytes",
)


class StreamListener(StreamingQueryListener):
    """Keeps the run id of every stream started and every progress
    report, in arrival order."""

    def __init__(self):
        self.run_ids: list[str] = []
        self.progress: list = []

    def onQueryStarted(self, event):
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def iso_to_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_span(progress) -> tuple[float, float]:
    start = iso_to_epoch(progress.timestamp)
    return start, start + progress.durationMs.get("triggerExecution", 0) / 1000.0


def stream_figures(progress_list) -> dict[str, float]:
    """Sum the listener's progress reports into the stream.* layer.

    State size is the last report of each run (rows and memory held at
    the end of the run), summed over runs."""
    out = dict.fromkeys(
        (
            "batches",
            "trigger_s",
            "add_batch_s",
            "planning_s",
            "wal_commit_s",
            "state_commit_s",
            "state_rows",
            "state_bytes",
            "input_rows",
        ),
        0.0,
    )
    last_state: dict[str, tuple[float, float]] = {}
    for p in progress_list:
        d = p.durationMs
        out["batches"] += 1
        out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
        out["wal_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        out["input_rows"] += p.numInputRows
        ops = p.stateOperators
        out["state_commit_s"] += sum(op.commitTimeMs for op in ops) / 1000.0
        last_state[str(p.runId)] = (
            float(sum(op.numRowsTotal for op in ops)),
            float(sum(op.memoryUsedBytes for op in ops)),
        )
    for rows, nbytes in last_state.values():
        out["state_rows"] += rows
        out["state_bytes"] += nbytes
    return out


class StageReader:
    """Reads jobs and stages of the core status store through py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._no_quantiles = self._sc._gateway.new_array(self._sc._gateway.jvm.double, 0)

    def drain(self) -> None:
        """Wait until every listener, the status store's included, has
        seen every event posted so far."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids) -> list[dict]:
        """One record per stage attempt that ran (skipped stages have no
        submission time and did no work)."""
        out = []
        seen = set()
        for jid in job_ids:
            sids = self._store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if not (s.submissionTime().isDefined() and s.completionTime().isDefined()):
                        continue
                    out.append(
                        {
                            "stage": sid,
                            "start": s.submissionTime().get().getTime() / 1000.0,
                            "end": s.completionTime().get().getTime() / 1000.0,
                            "tasks": s.numTasks(),
                            "task_s": s.executorRunTime() / 1000.0,
                            "cpu_s": s.executorCpuTime() / 1e9,
                            "gc_s": s.jvmGcTime() / 1000.0,
                            "shuffle_read_bytes": s.shuffleReadBytes(),
                            "shuffle_write_bytes": s.shuffleWriteBytes(),
                            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                            "input_rows": s.inputRecords(),
                            "input_bytes": s.inputBytes(),
                            "output_bytes": s.outputBytes(),
                        }
                    )
        return out


class SqlReader:
    """Reads Python-worker metrics of new SQL executions.

    Execution ids are handed out in sequence, so the reader walks
    forward from the last id it saw; it gives up after a few ids in a
    row that the store does not hold."""

    LOOKAHEAD = 4

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._next = 0
        self.skip_new()

    def _walk(self):
        eid, misses = self._next, 0
        while misses < self.LOOKAHEAD:
            found = self._store.execution(eid)
            if found.isEmpty():
                misses += 1
            else:
                misses = 0
                self._next = eid + 1
                yield eid, found.get()
            eid += 1

    def skip_new(self) -> None:
        for _ in self._walk():
            pass

    def python_figures(self) -> dict[str, float]:
        out = {"run_s": 0.0, "init_s": 0.0, "bytes_sent": 0.0, "bytes_returned": 0.0}
        for eid, ex in self._walk():
            values = self._store.executionMetrics(eid)
            metrics = ex.metrics()
            seen = set()
            for i in range(metrics.size()):
                m = metrics.apply(i)
                key = PYTHON_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[key] += parse_value(v.get())
        return out


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")
_PY_NODE = re.compile(r"Python|InPandas|InArrow")


def plan_counts(tree: str) -> dict[str, int]:
    """Count nodes of an executed plan's tree string by kind.

    Exchanges are shuffle and broadcast exchanges that run; a reused
    exchange reads another's output and is not counted."""
    names = []
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m:
            names.append(m.group(1))
    return {
        "plan_nodes": len(names),
        "exchanges": sum(n in ("Exchange", "ShuffleExchange", "BroadcastExchange") for n in names),
        "sort_merge_joins": sum(n == "SortMergeJoin" for n in names),
        "broadcast_joins": sum(n in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for n in names),
        "python_nodes": sum(bool(_PY_NODE.search(n)) for n in names),
    }
