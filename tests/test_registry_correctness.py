"""Registry-wide correctness: every query with an oracle must match
DuckDB on sf0.001 — a fast local replica of the driver's t2 gate.
(The driver runs the same comparison at sf0.01.)"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import compare, duck_con  # noqa: E402


def _slugs():
    from mapreduce_rust_spark.registry import queries

    return sorted(queries())


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_con(sf_dir)


def test_priority_slugs_in_driver_window():
    """The driver value-checks only the first 50 queries() entries;
    every slug needing fresh oracle evidence this round must be there."""
    from mapreduce_rust_spark.registry import _PRIORITY, queries

    order = list(queries())
    window = set(order[:50])
    missing = [s for s in _PRIORITY if s in order and s not in window]
    assert not missing, f"priority slugs pushed out of the 50-slot window: {missing}"


def test_next_window_queue_directly_after_window():
    """Slugs that no longer fit the 50-slot window must queue at
    positions 51+ so the round-5 rotation picks them up first."""
    from mapreduce_rust_spark.registry import _NEXT_WINDOW, _PRIORITY, queries

    order = list(queries())
    n = len(_PRIORITY)
    assert order[n : n + len(_NEXT_WINDOW)] == list(_NEXT_WINDOW)


def test_survey_inventory_is_current():
    """SURVEY.md §2d is generated from the registry: a slug added,
    removed or moved to another family must land with the table
    regenerated by ``python tools/gen_survey_inventory.py``."""
    from gen_survey_inventory import build_table

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SURVEY.md"), encoding="utf-8") as fh:
        assert build_table() in fh.read()


def test_unimportable_family_fails_the_registry(monkeypatch):
    """A family module that cannot be imported must fail queries(), on
    every call, instead of silently dropping its slugs."""
    from mapreduce_rust_spark import registry

    monkeypatch.setattr(registry, "_QUERIES", {})
    monkeypatch.setattr(registry, "_ORACLES", {})
    monkeypatch.setitem(sys.modules, "mapreduce_rust_spark.operators.graph", None)
    for _ in range(2):
        with pytest.raises(ImportError):
            registry.queries()
    assert registry._QUERIES == {} and registry._ORACLES == {}


def _check_one(spark, sf_dir, duck, slug) -> list[str]:
    from mapreduce_rust_spark.registry import oracle_sql, queries

    fn = queries()[slug]
    spark_pdf = fn(spark, sf_dir).toPandas()
    sql = oracle_sql().get(slug)
    if sql is None:
        # non-SQL-expressible op: weaker check — runs and yields rows
        assert len(spark_pdf) >= 0
        return []
    duck_pdf = duck.execute(sql).df()
    return compare(slug, spark_pdf, duck_pdf)


# Budget split (r10 verdict ask #8 — the full suite no longer fit the
# driver's time budget; the sequential 424-slug oracle sweep alone was
# ~18 min of a 44-min run, and a threaded sweep is still GIL-bound at
# ~15 min in toPandas/DuckDB-to-pandas conversion):
#   * the DEFAULT run value-checks the driver's own 50-slug priority
#     window (exactly what the driver's t2 gate checks) — ~2 min;
#   * the FULL 424-slug sweep keeps running under ``-m exhaustive``
#     and in the freeze procedure, which value-checks every slug via
#     tools/check_correctness.py at sf0.01 AND sf0.1 anyway.
# Per-slug parametrized runs stay available for debugging one slug
# (MRS_ORACLE_PER_SLUG=1 python -m pytest ... -k <slug>).


def _window_slugs():
    from mapreduce_rust_spark.registry import queries

    return sorted(list(queries())[:50])


if os.environ.get("MRS_ORACLE_PER_SLUG"):

    @pytest.mark.parametrize("slug", _slugs())
    def test_query_matches_oracle(spark, sf_dir, duck, slug):
        problems = _check_one(spark, sf_dir, duck, slug)
        assert not problems, problems

else:

    @pytest.mark.parametrize("slug", _window_slugs())
    def test_query_matches_oracle(spark, sf_dir, duck, slug):
        """Driver-window replica: the 50 slugs the driver value-checks."""
        problems = _check_one(spark, sf_dir, duck, slug)
        assert not problems, problems

    @pytest.mark.exhaustive
    @pytest.mark.parametrize("slug", sorted(set(_slugs()) - set(_window_slugs())))
    def test_query_matches_oracle_full(spark, sf_dir, duck, slug):
        """The rest of the registry — run with ``-m exhaustive`` (and
        covered at two SFs by the freeze procedure's full
        check_correctness sweeps)."""
        problems = _check_one(spark, sf_dir, duck, slug)
        assert not problems, problems
