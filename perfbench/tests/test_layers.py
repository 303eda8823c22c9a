"""Self-time split, plan-node counts, stream sums, and BENCHMARK.json."""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest

from perfbench.collectors import plan_counts, stream_figures
from perfbench.run import END_TO_END, PER_LAYER
from perfbench.trace import Span, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_self_times_partition_the_pass():
    root = Span(0, None, "pass:warm", "harness", 0.0, 10.0)
    spans = [
        root,
        Span(1, 0, "slug", "harness", 1.0, 9.0),
        Span(2, 1, "build", "build", 1.0, 4.0),
        Span(3, 1, "exec", "exec_driver", 4.0, 9.0),
        # two overlapping stages inside exec, one spilling past its end
        Span(4, 3, "stage:1", "stages", 5.0, 7.0),
        Span(5, 3, "stage:2", "stages", 6.0, 8.0),
        Span(6, 2, "batch:0", "stream_batch", 2.0, 3.0),
        Span(7, 6, "stage:3", "stages", 2.5, 3.0),
        # outside the pass: ignored
        Span(8, None, "session.start_s", "setup", -5.0, 0.0),
    ]
    got = self_times(spans, root)
    assert got == pytest.approx(
        {
            "harness": 2.0,
            "build": 2.0,
            "catalyst": 0.0,
            "exec_driver": 2.0,
            "stream_batch": 0.5,
            "stages": 3.5,
        }
    )
    assert sum(got.values()) == pytest.approx(10.0)


def test_plan_counts():
    tree = "\n".join(
        [
            "AdaptiveSparkPlan isFinalPlan=false",
            "+- SortMergeJoin [k#1], [k#2], Inner",
            "   :- Sort [k#1 ASC NULLS FIRST], false, 0",
            "   :  +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=1]",
            "   :     +- *(1) FlatMapGroupsInPandas [k#1], f(k#1)",
            "   :        +- Scan parquet [k#1]",
            "   +- BroadcastHashJoin [k#2], [k#3], Inner, BuildRight",
            "      :- ArrowEvalPython [g(v#4)]",
            "      :  +- ReusedExchange [k#2], Exchange hashpartitioning(k#2, 4)",
            "      +- BroadcastExchange HashedRelationBroadcastMode",
            "         +- Scan parquet [k#3]",
        ]
    )
    assert plan_counts(tree) == {
        "plan_nodes": 11,
        "exchanges": 2,
        "sort_merge_joins": 1,
        "broadcast_joins": 1,
        "python_nodes": 2,
    }


def _progress(run, ms, rows, state):
    ops = [SimpleNamespace(numRowsTotal=r, memoryUsedBytes=b, commitTimeMs=c) for r, b, c in state]
    return SimpleNamespace(runId=run, numInputRows=rows, durationMs=ms, stateOperators=ops)


def test_stream_figures_sum_batches_and_keep_last_state():
    reports = [
        _progress("a", {"triggerExecution": 900, "addBatch": 500, "queryPlanning": 100, "walCommit": 40, "commitOffsets": 60}, 10, [(5, 1000, 20)]),
        _progress("a", {"triggerExecution": 100}, 0, [(7, 3000, 30)]),
        _progress("b", {"triggerExecution": 1000, "addBatch": 800}, 4, []),
    ]
    got = stream_figures(reports)
    assert got == pytest.approx(
        {
            "batches": 3,
            "trigger_s": 2.0,
            "add_batch_s": 1.3,
            "planning_s": 0.1,
            "wal_commit_s": 0.1,
            "state_commit_s": 0.05,
            "state_rows": 7,
            "state_bytes": 3000,
            "input_rows": 14,
        }
    )


def test_benchmark_json_matches_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layer == PER_LAYER
