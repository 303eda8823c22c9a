"""Self-check: run every registry query on Spark AND its DuckDB oracle,
compare row count, column names/order-insensitive values — a local
replica of the driver's t2 gate so mismatches surface before a round
ends.

Usage: python tools/check_correctness.py [sf_dir] [slug ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    s, d = canon(spark_pdf), canon(duck_pdf)
    for c in s.columns:
        sc, dc = s[c], d[c]
        if {sc.dtype.kind, dc.dtype.kind} == {"i", "f"}:
            # DuckDB returns HUGEINT (int sums) as float64; the values
            # compare equal numerically but the driver's value hash
            # stringifies ("150" vs "150.0") and mismatches. The oracle
            # must CAST integer sums to BIGINT.
            problems.append(
                f"col {c}: dtype kind mismatch spark={sc.dtype} duck={dc.dtype} "
                f"(driver hash would differ — CAST the oracle expr)"
            )
            continue
        if sc.dtype.kind == "f" or dc.dtype.kind == "f":
            sa = pd.to_numeric(sc, errors="coerce")
            da = pd.to_numeric(dc, errors="coerce")
            mism = ~(
                (sa.isna() & da.isna())
                | ((sa - da).abs() <= 1e-9 + 1e-9 * da.abs())
            )
            exact = (sa != da) & ~(sa.isna() & da.isna())
            if mism.any():
                i = mism.idxmax()
                problems.append(
                    f"col {c}: {int(mism.sum())} numeric mismatches, e.g. row {i}: "
                    f"spark={sa[i]!r} duck={da[i]!r}"
                )
            elif exact.any():
                i = exact.idxmax()
                problems.append(
                    f"col {c}: WARNING {int(exact.sum())} values equal only within "
                    f"tolerance (hash would differ), e.g. {sa[i]!r} vs {da[i]!r}"
                )
        else:
            mism = (sc.astype(str) != dc.astype(str)) & ~(sc.isna() & dc.isna())
            if mism.any():
                i = mism.idxmax()
                problems.append(
                    f"col {c}: {int(mism.sum())} mismatches, e.g. row {i}: "
                    f"spark={sc[i]!r} duck={dc[i]!r}"
                )
    return problems


def check_one(
    spark, con, name: str, sf_dir: str
) -> tuple[bool, str | None]:
    """Run one slug on Spark and its DuckDB oracle over the same
    sf_dir; returns (ok, problem). Importable for the dual-scale
    sweep (tools/scale_sweep.py)."""
    from mapreduce_rust_spark.registry import oracle_sql, queries

    try:
        spark_pdf = queries()[name](spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        return False, f"spark raised {type(e).__name__}: {e}"
    finally:
        spark.catalog.clearCache()
    sql = oracle_sql().get(name)
    if sql is None:
        return (len(spark_pdf) > 0, "rows-only (no oracle)")
    try:
        duck_pdf = con.execute(sql).df()
    except Exception as e:  # noqa: BLE001
        return False, f"duckdb raised {type(e).__name__}: {e}"
    problems = compare(name, spark_pdf, duck_pdf)
    return (not problems, "; ".join(problems) or None)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from mapreduce_rust_spark.registry import oracle_sql, queries

    if os.environ.get("MRS_PLAIN_SESSION"):
        # bare session, NONE of get_spark()'s configs — exactly what
        # the driver's harness builds. Engine code must self-provision
        # every conf it needs (sources/tables.py does, at load time).
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[16]").appName(
            "check_correctness_plain"
        ).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        from mapreduce_rust_spark import get_spark

        spark = get_spark("check_correctness")
    con = duck_con(sf_dir)
    qs, oracles = queries(), oracle_sql()

    n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        finally:
            # operators may persist() intermediates — keep the 69-query
            # sweep's memory flat
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok?  {name}: rows={len(spark_pdf)} (no oracle — rows-only) "
                  f"[{time.perf_counter()-t0:.1f}s]")
            if len(spark_pdf) == 0:
                print(f"     WARNING {name}: zero rows")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name}: [{time.perf_counter()-t0:.1f}s]")
            for p in problems:
                print(f"     {p}")
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} [{time.perf_counter()-t0:.1f}s]")
    print(f"\n{'ALL PASS' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
