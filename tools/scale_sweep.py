"""Dual-scale sweep for the 100 TB-claim families:
time each slug at the driver's sf0.1 AND a 10x generated sf1 dataset
(tools/gen_scale_data.py), value-check Spark vs DuckDB at sf1, and
print per-slug scaling exponents  e = log10(t_sf1 / t_sf0.1)  — e <= ~1
means at-most-linear in data volume; anything super-linear is a bug the
plan audit can't see (an sf0.1 sweep once caught exactly such a
constant).

Usage: python tools/scale_sweep.py [sf1_dir] [slug ...]
Writes tools-side JSON to scaledata/scale_sweep.json for BASELINE.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# small side of the ratio; override for higher-decade sweeps, e.g.
# MRS_SWEEP_SMALL=scaledata/sf1 python tools/scale_sweep.py scaledata/sf10 <slug>
SF01 = os.environ.get("MRS_SWEEP_SMALL", "/root/testdata/sf0.1")
# MRS_SWEEP_NOCHECK=1 records a rows-only run for slugs whose DuckDB
# replay is intractable at the target scale (documented fallback)

# representative slugs for every family whose 100 TB story the repo
# claims: dedup/LSH, embedding ANN/IVF, connected components,
# distributed rank, sliding/merged HLL sketches, plus two TPC-H
# anchors and the wordcount parity e2e as controls
DEFAULT_SLUGS = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "dedup_semantic_cluster",
    "dedup_components",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "ann_topk_pq",
    "ann_topk_hamming",
    "corpus_shuffle_order",
    "sketch_sliding_distinct",
    "sketch_union_distinct",
    "sketch_heavy_hitters",
    "q1_pricing_summary",
    "q5_local_supplier",
    "wordcount_e2e",
    # round-6 additions with their own scale claims
    "corpus_dsir_weights",
    "text_bigram_perplexity",
    "ann_topk_ivfpq",
    "graph_label_propagation",
    "skew_balanced_ranges",
    # round-6 second wave: the data-sized new families (blocking #2,
    # union-vocab JSD, per-position masking, candidate-verify, the
    # Poisson-bootstrap explode, and the distinct-token Heaps pass)
    "dedup_sorted_neighborhood",
    # dedup_levenshtein_verified: deliberately NOT in the default set —
    # its sf1 value check is bound by the DUCKDB side (minhash replay +
    # per-pair levenshtein in a single thread), not by the engine; the
    # Spark plan is the same bounded candidate-verify as
    # dedup_lsh_verified, which IS swept.
    "text_jsd_drift",
    "corpus_span_corruption",
    "sample_poisson_bootstrap",
    "text_heaps_law",
)


def time_slug(spark, fn, sf_dir: str, runs: int = 2) -> float:
    best = math.inf
    for _ in range(runs):
        t0 = time.monotonic()
        fn(spark, sf_dir).collect()
        best = min(best, time.monotonic() - t0)
    return best


def main() -> int:
    sf1_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/scaledata/sf1"
    slugs = tuple(sys.argv[2:]) or DEFAULT_SLUGS

    from mapreduce_rust_spark import get_spark
    from mapreduce_rust_spark.registry import queries

    from tools.check_correctness import check_one, duck_con

    spark = get_spark("scale_sweep")
    qs = queries()
    con = duck_con(sf1_dir)
    results = {}
    nocheck = os.environ.get("MRS_SWEEP_NOCHECK") == "1"
    for slug in slugs:
        fn = qs[slug]
        if nocheck:
            n = fn(spark, sf1_dir).count()
            ok, detail = True, f"rows-only ({n} rows; oracle not replayed)"
        else:
            ok, detail = check_one(spark, con, slug, sf1_dir)
        t_small = time_slug(spark, fn, SF01)
        t_big = time_slug(spark, fn, sf1_dir)
        exp = math.log10(max(t_big, 1e-3) / max(t_small, 1e-3))
        key = (
            f"{slug}@{os.environ['MRS_SWEEP_TAG']}"
            if os.environ.get("MRS_SWEEP_TAG")
            else slug
        )
        results[key] = {
            "sf0.1_s": round(t_small, 2),
            "sf1_s": round(t_big, 2),
            "exponent": round(exp, 2),
            "sf1_value_check": (
                detail if nocheck else ("pass" if ok else f"FAIL: {detail}")
            ),
        }
        print(
            f"{slug}: {t_small:.2f}s -> {t_big:.2f}s  exp={exp:.2f}  "
            f"check={'pass' if ok else 'FAIL ' + str(detail)}"
        )
    out = os.path.join(os.path.dirname(sf1_dir), "scale_sweep.json")
    merged = {}
    if os.path.exists(out):  # partial re-runs update, not clobber
        with open(out) as f:
            merged = json.load(f)
    merged.update(results)
    with open(out, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out}")
    bad = [s for s, r in results.items() if r["sf1_value_check"] != "pass"]
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
