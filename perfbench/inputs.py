"""Seeded workload inputs, made by the repo's own generator.

``tools/gen_scale_data.generate`` draws every table from a generator
seeded with its module-level ``SEED``; the benchmark sets that from its
``--seed`` argument, so the same seed gives the same tables. Generated
sets are cached under the benchmark's work directory, keyed by
(scale factor, seed).
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil
import sys

import pyarrow.parquet as pq


def table_stats(sf_dir: str) -> dict[str, dict[str, int]]:
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            out[name[: -len(".parquet")]] = {
                "rows": pq.read_metadata(path).num_rows,
                "bytes": os.path.getsize(path),
            }
    return out


def ensure_inputs(cache_dir: str, sf: float, seed: int) -> str:
    """Return the directory of the tables for (sf, seed), generating
    them on first use."""
    sf_dir = os.path.join(cache_dir, f"sf{sf}_seed{seed}")
    if os.path.isdir(sf_dir):
        return sf_dir
    gen = importlib.import_module("gen_scale_data")
    partial = f"{sf_dir}.partial{os.getpid()}"
    shutil.rmtree(partial, ignore_errors=True)
    gen.SEED = seed
    # the generator reports each table on stdout, which carries the result
    with contextlib.redirect_stdout(sys.stderr):
        gen.generate(partial, sf)
    os.replace(partial, sf_dir)
    return sf_dir
