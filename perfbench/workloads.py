"""The benchmark's workloads: frozen slug lists and their scale.

The lists are frozen here, not computed from the registry at run time,
so a slug that disappears from the registry is counted as failed
instead of silently leaving the workload.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    slugs: tuple[str, ...]
    # engine paths warmed during set-up besides the batch reader (see
    # perfbench/session.py): "stream" and "pysource"
    warm: frozenset[str] = frozenset()


WORKLOADS = {
    # Batch slugs on small inputs, one per family: analytics, SQL,
    # sampling, statistics, TPC-H, MinHash dedup and the corpus
    # pipeline. Fixed per-query cost (plan building, eager jobs, stage
    # count) dominates; the last two build session indexes on the cold
    # pass.
    "mix_small": Workload(
        0.01,
        (
            "orders_by_month",
            "unpivot_melt",
            "sample_weighted_topk",
            "corr_matrix",
            "q15_top_supplier",
            "dedup_minhash_lsh",
            "pipeline_prepare_corpus",
        ),
    ),
    # One slug of each write-side family: an incremental merge, a sink,
    # the Python datasource reader, and the sessionizing stream
    # (micro-batches with state), the stream that scales worst with
    # cores.
    "stream_write": Workload(
        0.01,
        (
            "incremental_agg_merge",
            "sink_compaction_plan",
            "source_python_datasource",
            "streaming_sessionize",
        ),
        frozenset({"stream", "pysource"}),
    ),
}
