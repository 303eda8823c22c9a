"""A failing or missing slug is counted and never lowers a number."""

from __future__ import annotations

import statistics
import time

import pytest

from perfbench.passes import hd_median, run_pass, summarize

PAUSE_S = 0.05


class _Noop:
    def format(self, _name):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        time.sleep(PAUSE_S)


class _Frame:
    write = _Noop()


class _Spark:
    class sparkContext:  # noqa: N801 — mirrors the attribute name
        @staticmethod
        def setJobGroup(_group, _description):
            pass

    class catalog:  # noqa: N801
        @staticmethod
        def clearCache():
            pass


def _ok(_spark, _sf_dir):
    return _Frame()


def _raises(_spark, _sf_dir):
    time.sleep(PAUSE_S)
    raise ZeroDivisionError("stub slug")


QMAP = {"ok": _ok, "boom": _raises}
SLUGS = ("ok", "boom", "gone")


def _passes():
    cold = run_pass(_Spark, "unused", SLUGS, QMAP, "cold")
    warm = [run_pass(_Spark, "unused", SLUGS, QMAP, "warm") for _ in range(2)]
    return cold, warm


def test_failures_are_counted_with_their_exception_class():
    cold, warm = _passes()
    summary = summarize(cold, warm, mismatched=set())
    assert summary["attempted"] == 9
    assert summary["failed"] == 6
    assert summary["ok_frac"] == 1 - 6 / 9
    assert summary["errors"] == ["boom: ZeroDivisionError", "gone: MissingSlug"]
    errors = {r.slug: r.error for r in cold.runs}
    assert errors == {"ok": None, "boom": "ZeroDivisionError", "gone": "MissingSlug"}


def test_a_failure_keeps_its_elapsed_time():
    cold, warm = _passes()
    boom = next(r for r in cold.runs if r.slug == "boom")
    assert boom.latency_s >= PAUSE_S
    # the walls hold every slug's time, the failing one's included
    for p in [cold, *warm]:
        assert p.wall_s >= sum(r.latency_s for r in p.runs)
        assert p.wall_s >= 2 * PAUSE_S
    summary = summarize(cold, warm, mismatched=set())
    # the median is taken over ok (~PAUSE_S), boom (~PAUSE_S) and gone
    # (~0) latencies alike
    every = [r.latency_s for p in warm for r in p.runs]
    assert len(every) == 6
    assert summary["query_p50_s"] == pytest.approx(hd_median(every))
    assert summary["query_p50_s"] >= 0.5 * PAUSE_S


def test_hd_median():
    assert hd_median([3.0]) == 3.0
    assert hd_median([2.0] * 7) == pytest.approx(2.0)
    assert hd_median([1.0, 2.0, 3.0]) == pytest.approx(2.0)
    assert hd_median([4.0, 1.0, 3.0, 2.0]) == pytest.approx(2.5)
    # two groups of samples: the plain median sits on one group's edge,
    # and moving one sample across the middle moves it by the whole gap
    low, high = [1.0] * 10, [2.0] * 11
    plain_jump = statistics.median(low + [1.5] + high[1:]) - statistics.median(low + high)
    hd_jump = hd_median(low + [1.5] + high[1:]) - hd_median(low + high)
    assert plain_jump == pytest.approx(-0.5)
    assert abs(hd_jump) < 0.1


def test_an_oracle_mismatch_fails_every_execution_of_the_slug():
    cold, warm = _passes()
    summary = summarize(cold, warm, mismatched={"ok"})
    assert summary["failed"] == 9
    assert summary["ok_frac"] == 0.0
    assert "ok: OracleMismatch" in summary["errors"]


def test_settle_passes_count_failures_but_no_time():
    cold, warm = _passes()
    settle = [run_pass(_Spark, "unused", ("boom",), QMAP, "settle")]
    summary = summarize(cold, warm, mismatched=set(), settle=settle)
    assert summary["attempted"] == 10
    assert summary["failed"] == 7
    assert summary == {**summarize(cold, warm, mismatched=set()), "attempted": 10, "failed": 7, "ok_frac": 1 - 7 / 10}
