"""The session-index registry: keying, invalidation, exclusive build
accounting and concurrent builds.

Every test runs on its own copy of the test dataset, so its builds are
cold whatever the test order."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from mapreduce_rust_spark import indexes
from mapreduce_rust_spark.operators.dedup import (
    candidate_pairs_index,
    exact_census_index,
    minhash_signatures,
    signature_index,
)
from mapreduce_rust_spark.sources.tables import load_table


@pytest.fixture
def dataset(tmp_path, sf_dir) -> str:
    """A private, writable copy of the test dataset."""
    d = tmp_path / "sf"
    d.mkdir()
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), d / name)
    return str(d)


def _n_docs(spark, sf_dir: str) -> int:
    return load_table(spark, sf_dir, "documents").count()


def _census_docs(spark, sf_dir: str) -> int:
    return exact_census_index(spark, sf_dir).agg(F.sum("n_copies")).first()[0]


def test_rewritten_input_rebuilds_its_indexes(spark, dataset):
    import pyarrow.parquet as pq

    n = _n_docs(spark, dataset)
    assert signature_index(spark, dataset).count() > 0
    assert _census_docs(spark, dataset) == n

    path = os.path.join(dataset, "documents.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 2), path)

    half = _n_docs(spark, dataset)
    assert half == n // 2
    fresh = minhash_signatures(load_table(spark, dataset, "documents"), "doc_id", "text")
    assert signature_index(spark, dataset).count() == fresh.count()
    assert _census_docs(spark, dataset) == half


def test_index_is_shared_within_a_session_only(spark, dataset):
    sig = signature_index(spark, dataset)
    assert signature_index(spark, dataset) is sig
    other = spark.newSession()
    theirs = signature_index(other, dataset)
    assert theirs is not sig
    assert theirs.sparkSession is other
    assert theirs.count() == sig.count()


def test_nested_build_is_charged_exclusively(spark, dataset):
    before = dict(indexes.INDEX_BUILD_SECONDS)
    t0 = time.perf_counter()
    candidate_pairs_index(spark, dataset, threshold=0.5, k=3)
    wall = time.perf_counter() - t0
    charged = {
        tag: secs - before.get(tag, 0.0)
        for tag, secs in indexes.INDEX_BUILD_SECONDS.items()
        if secs != before.get(tag)
    }
    assert set(charged) == {"sig-k3", "pairs-k3-t0.5"}
    assert all(secs > 0 for secs in charged.values())
    assert sum(charged.values()) <= wall


@pytest.fixture
def stores(dataset, monkeypatch) -> dict[str, int]:
    """tag -> number of index builds stored for ``dataset``."""
    counts: dict[str, int] = {}

    class CountingDict(dict):
        def __setitem__(self, key, value):
            if key[0] == dataset:
                counts[key[1]] = counts.get(key[1], 0) + 1
            super().__setitem__(key, value)

    monkeypatch.setattr(indexes, "_INDEXES", CountingDict(indexes._INDEXES))
    return counts


def test_concurrent_callers_build_each_index_once(spark, dataset, stores):
    """More threads than cores race for a nested build (components →
    pairs → signatures) with a short switch interval."""
    from mapreduce_rust_spark.operators.graph import dedup_components

    n = (os.cpu_count() or 4) + 2
    start = threading.Barrier(n, timeout=60)

    def call(_):
        start.wait()
        return dedup_components(spark, dataset)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(n) as pool:
            futures = [pool.submit(call, i) for i in range(n)]
            frames = [f.result(timeout=600) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(f is frames[0] for f in frames)
    assert stores == {"sig-k3": 1, "pairs-k3-t0.5": 1, "components-0.5": 1}


def test_graph_slugs_share_components_and_lpa_labels(spark, dataset, stores, monkeypatch):
    """The four LPA slugs run the LPA rounds once between them, and
    the clustering agreement reads the components index instead of
    rerunning the components loop."""
    from mapreduce_rust_spark.operators import graph

    graph.dedup_components(spark, dataset)

    def rerun(*args, **kwargs):
        raise AssertionError("components recomputed outside components-0.5")

    lpa_runs = []
    lpa = graph.label_propagation

    def counted_lpa(*args, **kwargs):
        lpa_runs.append(args)
        return lpa(*args, **kwargs)

    monkeypatch.setattr(graph, "connected_components", rerun)
    monkeypatch.setattr(graph, "label_propagation", counted_lpa)
    for slug in (
        graph.graph_label_propagation,
        graph.graph_modularity,
        graph.graph_conductance,
        graph.graph_clustering_agreement,
    ):
        assert slug(spark, dataset).collect()
    assert len(lpa_runs) == 1
    assert stores == {
        "sig-k3": 1,
        "pairs-k3-t0.5": 1,
        "components-0.5": 1,
        "edges-0.5": 1,
        f"lpa-r{graph.LPA_ROUNDS}-0.5": 1,
    }
