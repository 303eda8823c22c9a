"""The engine Python daemon (``mapreduce_rust_spark.pydaemon``): its
import-cache reset, and every worker forking from it."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from mapreduce_rust_spark import pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


MEMBERS = {"mrs_zpkg/__init__.py": "", "mrs_zpkg/a.py": "X = 1\n"}


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mrs_mods.zip")
    _write_zip(archive, MEMBERS)
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith("mrs_zpkg")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimporter's reset is lazy from 3.12"
)
def test_reset_skips_unchanged_zip_and_rereads_rewritten(zip_on_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    assert importlib.import_module("mrs_zpkg.a").X == 1
    # two importers of the one archive: its root and the package directory
    importers = [
        v for k, v in sys.path_importer_cache.items()
        if k.startswith(zip_on_path) and isinstance(v, zipimport.zipimporter)
    ]
    assert len(importers) == 2

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p)
    )
    importlib.invalidate_caches()  # the first patched reset stamps the archive
    assert reads == [zip_on_path]
    importlib.invalidate_caches()
    assert reads == [zip_on_path], "an unchanged archive was re-read"

    # rewritten in place (same inode): re-read once, for both importers
    _write_zip(zip_on_path, {**MEMBERS, "mrs_zpkg/b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [zip_on_path] * 2
    assert importlib.import_module("mrs_zpkg.b").Y == 2
    assert len({id(imp._files) for imp in importers}) == 1


_OUTSIDE_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path[:0] = [ROOT, ROOT + "/tools"]
    from check_correctness import check_one, duck_con
    from mapreduce_rust_spark import get_spark

    def probe(batches):
        import sys, zipimport
        import pyarrow as pa
        for _ in batches:
            pass
        mod = sys.modules.get("mapreduce_rust_spark.pydaemon")
        patched = (
            mod is not None
            and zipimport.zipimporter.invalidate_caches is mod.invalidate_caches
        )
        yield pa.RecordBatch.from_pydict(
            {"daemon": [mod is not None], "patched": [patched]}
        )

    spark = get_spark("pydaemon_outside")
    rows = spark.range(8, numPartitions=2).mapInArrow(
        probe, "daemon boolean, patched boolean"
    ).collect()
    con = duck_con(SF_DIR)
    ok, problem = check_one(spark, con, "source_python_datasource", SF_DIR)
    print("RESULT " + json.dumps({
        "conf": spark.sparkContext.getConf().get("spark.python.daemon.module"),
        "tasks": [r.asDict() for r in rows],
        "oracle": [ok, problem],
    }))
    spark.stop()
    """
)


def test_workers_fork_from_engine_daemon_outside_repo(tmp_path, sf_dir):
    """Started from a directory outside the checkout, with the checkout
    only on the driver's own ``sys.path``: every task runs in a worker
    forked from the engine daemon, and a Python datasource slug still
    matches its oracle."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    script = f"ROOT = {ROOT!r}\nSF_DIR = {sf_dir!r}\n" + _OUTSIDE_SCRIPT
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["conf"] == "mapreduce_rust_spark.pydaemon"
    assert len(got["tasks"]) == 2
    for task in got["tasks"]:
        assert task["daemon"]
        assert task["patched"] or sys.version_info >= (3, 12)
    assert got["oracle"][0], got["oracle"][1]
