"""Spark-free tests of the ``bench.py`` suite accounting."""

from __future__ import annotations

import time
from types import SimpleNamespace

import bench

PAUSE = 0.05


def _stub_spark():
    return SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))


def _raising_slug(spark, sf_dir):
    time.sleep(PAUSE)
    raise RuntimeError("stub slug")


def test_failed_query_is_charged_its_wall_time():
    sec, err = bench.time_query(_stub_spark(), "unused", _raising_slug)
    assert err == "RuntimeError: stub slug"
    assert sec >= PAUSE

    timings = {"ok_a": 1.5, "ok_b": 0.25, "boom": -1.0}
    failed = {"boom": {"sec": sec, "error": err}}
    total, n_failed = bench.suite_totals(timings, failed)
    assert n_failed == 1
    assert total == round(1.75 + sec, 3)
    # the failure raises the total above what the queries that ran cost
    assert total > bench.suite_totals({"ok_a": 1.5, "ok_b": 0.25}, {})[0]


def test_clean_suite_totals():
    assert bench.suite_totals({"a": 1.0, "b": 2.0}, {}) == (3.0, 0)
    assert bench.suite_totals({}, {}) == (0.0, 0)
