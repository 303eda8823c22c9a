"""Interleaved A/B timing of a slug between the WORKING TREE (new)
and a git ref (old, default HEAD): both registries are imported into
one warmed Spark session and runs alternate old/new N times, so host
noise episodes and JIT warmup hit both sides equally. Paired min/med
comparison is then meaningful on a noisy host where consecutive
sessions can differ 3x.

Module isolation: each side owns a private
sys.modules universe that is swapped in around its calls, with its
tree root FIRST on sys.path (and the other side's root absent) for
the duration — so old-side functions that lazily import at call time
resolve against the OLD tree, not the working tree, and the two
sides' session indexes (the ``indexes`` registry) stay separate.

Both sides share one session: its confs, its JVM and the Python daemons
its workers fork from. So this tool cannot A/B a session-level change
(a ``get_spark`` conf, the worker boot hook, the UDF daemon); the old
side would run with the new session. For those, alternate whole
``perfbench/run.py`` runs of the two trees.

    python tools/ab_interleave.py [-nN] [-rREF] slug [slug ...]
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PKG = "mapreduce_rust_spark"


def _pop_universe() -> dict:
    """Remove every package module from sys.modules and return them."""
    return {
        m: sys.modules.pop(m)
        for m in [m for m in sys.modules if m.split(".")[0] == _PKG]
    }


class Side:
    """One side of the A/B: a tree root + its private module universe."""

    def __init__(self, root: str):
        self.root = root
        self.modules: dict = {}
        self.queries = None

    def __enter__(self):
        self._saved = _pop_universe()
        sys.modules.update(self.modules)
        self._saved_path = list(sys.path)
        sys.path[:] = [self.root] + [
            p for p in sys.path if p not in (self.root, REPO)
        ]
        return self

    def __exit__(self, *exc):
        self.modules = _pop_universe()
        sys.modules.update(self._saved)
        sys.path[:] = self._saved_path
        return False

    def load(self):
        with self:
            from mapreduce_rust_spark.registry import queries

            self.queries = queries()


def main() -> int:
    args = sys.argv[1:]
    n = 4
    ref = "HEAD"
    while args and args[0].startswith("-"):
        if args[0].startswith("-n"):
            n = int(args[0][2:])
        elif args[0].startswith("-r"):
            ref = args[0][2:]
        args = args[1:]
    slugs = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    old_root = tempfile.mkdtemp(prefix="mrs_ab_old_")
    subprocess.run(
        f"git -C {REPO} archive {ref} | tar -x -C {old_root}",
        shell=True,
        check=True,
    )

    new = Side(REPO)
    old = Side(old_root)
    new.load()
    old.load()

    # session factory from the new tree (identical confs both sides)
    with new:
        from mapreduce_rust_spark import get_spark

        spark = get_spark("ab")
    spark.range(1_000_000).selectExpr("sum(id) as s").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    import glob as _glob

    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(p, "rb") as fh:
            while fh.read(1 << 24):
                pass

    for name in slugs:
        olds, news = [], []
        # one unmeasured warmup per side (JIT + memo builds)
        for side in (old, new):
            with side:
                side.queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            spark.catalog.clearCache()
        for i in range(n):
            for label, side, acc in (("old", old, olds), ("new", new, news)):
                spark.sparkContext.setJobDescription(f"ab:{name}:{label}:{i}")
                with side:
                    t0 = time.perf_counter()
                    side.queries[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    acc.append(round(time.perf_counter() - t0, 2))
                spark.catalog.clearCache()
        print(
            f"AB {name}: old={olds} min={min(olds)} med={statistics.median(olds)} | "
            f"new={news} min={min(news)} med={statistics.median(news)}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
