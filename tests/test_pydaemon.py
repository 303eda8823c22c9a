"""The Python processes Spark starts for an engine session and their
one boot hook (``workerboot/sitecustomize.py``): the import-cache reset
and compiled-pyspark path every one of them installs at start-up, and
the preload and GC freeze only the UDF daemon (stock
``pyspark.daemon``) gets."""

from __future__ import annotations

import glob
import importlib
import importlib.util
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BOOT_DIR = os.path.join(ROOT, "mapreduce_rust_spark", "workerboot")


def _load_boot():
    """The boot hook as a plain module: under any name but
    ``sitecustomize`` it only defines its functions."""
    spec = importlib.util.spec_from_file_location(
        "mrs_workerboot", os.path.join(BOOT_DIR, "sitecustomize.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


boot = _load_boot()


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
        zipimport.zipimporter, "invalidate_caches", boot.invalidate_caches
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


@pytest.mark.parametrize(
    "installed, moved",
    [("__version__ = '1.0'\n", True), ("__version__ = '1.1'\n", False), (None, False)],
    ids=["same-version", "other-version", "not-installed"],
)
def test_archive_yields_to_identical_installed_package(tmp_path, monkeypatch, installed, moved):
    """An archive holding the package moves behind the rest of
    ``sys.path`` only when the installed copy's ``version.py`` is
    byte-identical; otherwise the path is left as it was."""
    archive = str(tmp_path / "mrs_fake.zip")
    _write_zip(
        archive,
        {"mrs_fakepkg/__init__.py": "", "mrs_fakepkg/version.py": "__version__ = '1.0'\n"},
    )
    other = str(tmp_path / "other.zip")
    _write_zip(other, MEMBERS)
    site = tmp_path / "site"
    site.mkdir()
    if installed is not None:
        (site / "mrs_fakepkg").mkdir()
        (site / "mrs_fakepkg" / "__init__.py").write_text("")
        (site / "mrs_fakepkg" / "version.py").write_text(installed)
    path = [archive, other, str(tmp_path / "missing"), str(site)]
    monkeypatch.setattr(sys, "path", list(path))
    boot.prefer_installed("mrs_fakepkg")
    if moved:
        assert sys.path == [other, str(tmp_path / "missing"), str(site), archive]
    else:
        assert sys.path == path


def test_boot_hook_installs_reset_and_runs_shadowed_hook(tmp_path):
    """A bare interpreter with the boot directory on ``PYTHONPATH``
    installs the reset at start-up, still runs a ``sitecustomize``
    further along the path, and imports nothing of the engine or
    pyspark."""
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("import sys\nsys.mrs_other_hook_ran = True\n")
    code = textwrap.dedent(
        """
        import json, sys, zipimport
        print(json.dumps({
            "patched": zipimport.zipimporter.invalidate_caches.__module__ == "sitecustomize",
            "hook": sys.modules["sitecustomize"].__file__,
            "other": getattr(sys, "mrs_other_hook_ran", False),
            "loaded": [m for m in sys.modules if m.split(".")[0] in ("mapreduce_rust_spark", "pyspark")],
        }))
        """
    )
    env = {**os.environ, "PYTHONPATH": os.pathsep.join((BOOT_DIR, str(other)))}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stderr
    got = json.loads(proc.stdout)
    assert got["patched"] or sys.version_info >= (3, 12)
    assert got["hook"] == os.path.join(BOOT_DIR, "sitecustomize.py")
    assert got["other"]
    assert got["loaded"] == []


@pytest.mark.parametrize(
    "args, preload",
    [
        (["-m", "pyspark.daemon", "pyspark.worker"], True),
        (["-m", "pyspark.daemon"], True),
        (["-m", "pyspark.daemon", "pyspark.sql.worker.plan_data_source_read"], False),
        (["-m", "pyspark.worker"], False),
        (["-c", "import pyspark.daemon", "pyspark.worker"], False),
    ],
    ids=["udf-daemon", "udf-daemon-default-module", "planner-daemon", "other-module", "code"],
)
def test_only_the_udf_daemon_preloads(args, preload):
    assert boot.is_udf_daemon([sys.executable, *args]) is preload


def _installed_matches_archives() -> bool:
    """Whether the installed pyspark and py4j have the same
    ``version.py`` as every archive of Spark's that holds them."""
    from pyspark.find_spark_home import _find_spark_home

    archives = glob.glob(os.path.join(_find_spark_home(), "python", "lib", "*.zip"))
    for package in ("pyspark", "py4j"):
        origin = importlib.util.find_spec(package).origin
        with open(os.path.join(os.path.dirname(origin), "version.py"), "rb") as f:
            installed = f.read()
        if any(boot._archive_version(a, package) not in (None, installed) for a in archives):
            return False
    return True


_OUTSIDE_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path[:0] = [ROOT, ROOT + "/tools"]
    from check_correctness import check_one, duck_con
    from mapreduce_rust_spark import get_spark
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    def state():
        # what this Python process had set up before any task code ran
        import gc, sys, zipimport
        import py4j, pyspark
        hook = sys.modules.get("sitecustomize")
        return {
            "pyspark": pyspark.__file__,
            "py4j": py4j.__file__,
            "hook": getattr(hook, "__file__", None),
            "patched": zipimport.zipimporter.invalidate_caches
            is getattr(hook, "invalidate_caches", None),
            "daemon": sys.modules["__main__"].__spec__.name,
            "pandas": "pandas" in sys.modules,
            "frozen": gc.get_freeze_count(),
        }

    def probe(batches):
        import pyarrow as pa
        got = state()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"state": [json.dumps(got)]})

    class PlanProbeReader(DataSourceReader):
        def partitions(self):
            # runs in the planner process (plan_data_source_read)
            return [InputPartition(json.dumps(state()))]

        def read(self, partition):
            yield (partition.value, json.dumps(state()))

    class PlanProbe(DataSource):
        @classmethod
        def name(cls):
            return "mrs_plan_probe"

        def schema(self):
            return "planner string, reader string"

        def reader(self, schema):
            return PlanProbeReader()

    spark = get_spark("pydaemon_outside")
    tasks = spark.range(8, numPartitions=2).mapInArrow(probe, "state string").collect()
    spark.dataSource.register(PlanProbe)
    (planned,) = spark.read.format("mrs_plan_probe").load().collect()
    con = duck_con(SF_DIR)
    oracle = {
        slug: check_one(spark, con, slug, SF_DIR)
        for slug in ("source_python_datasource", "sink_python_datasource")
    }
    print("RESULT " + json.dumps({
        "conf": spark.sparkContext.getConf().get("spark.python.daemon.module", None),
        "tasks": [json.loads(r.state) for r in tasks],
        "planner": json.loads(planned.planner),
        "reader": json.loads(planned.reader),
        "oracle": oracle,
    }))
    spark.stop()
    """
)


def test_workers_fork_from_engine_daemon_outside_repo(tmp_path, sf_dir):
    """Started from a directory outside the checkout, with the checkout
    only on the driver's own ``sys.path``: every Python process,
    including the datasource planner, runs the checkout's boot hook;
    every task runs in a worker forked from stock ``pyspark.daemon``
    with pandas preloaded and the heap frozen, while the planner gets
    neither; and the Python datasource reader and writer slugs still
    match their oracles."""
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
    assert got["conf"] is None
    assert len(got["tasks"]) == 2
    hook = os.path.join(BOOT_DIR, "sitecustomize.py")
    for state in [*got["tasks"], got["planner"], got["reader"]]:
        assert state["hook"] == hook
        assert state["patched"] or sys.version_info >= (3, 12)
        assert state["daemon"] == "pyspark.daemon"
    for state in [*got["tasks"], got["reader"]]:
        assert state["pandas"] and state["frozen"] > 0
    assert not got["planner"]["pandas"] and got["planner"]["frozen"] == 0
    for slug, (ok, problem) in got["oracle"].items():
        assert ok, (slug, problem)
    if not _installed_matches_archives():
        pytest.skip("the installed pyspark or py4j differs from Spark's archive")
    # a module loaded from an archive has a __file__ inside the zip
    for state in [*got["tasks"], got["planner"], got["reader"]]:
        assert os.path.isfile(state["pyspark"]) and os.path.isfile(state["py4j"]), state
