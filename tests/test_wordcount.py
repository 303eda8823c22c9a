"""Golden-parity tests for the reference's one application: wordcount
with case-sensitive, punctuation-preserving whitespace tokenization
(FIXTURES.md §1 golden output over the reference's own fixture files).
"""

from __future__ import annotations

import os
import re

import pytest

from tests.conftest import REFERENCE_FIXTURES

GOLDEN = {"hello": 8, "world": 3, "rust": 3, "Goodbye": 3, "123": 1}

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_FIXTURES), reason="reference fixtures not present"
)


@needs_fixtures
def test_wordcount_files_golden(spark):
    from mapreduce_rust_spark.plans.wordcount import wordcount_files

    got = {r["word"]: r["cnt"] for r in wordcount_files(spark, REFERENCE_FIXTURES).collect()}
    assert got == GOLDEN


@needs_fixtures
def test_mapreduce_job_golden(spark):
    """The reference's exact API shape: MapFn/ReduceFn pair over whole
    files, string-typed counts at the edge (mr_app/src/client.rs)."""
    from mapreduce_rust_spark.operators.mapreduce import MapReduceJob, wordcount_fns

    job = MapReduceJob(*wordcount_fns())
    got = {r["key"]: r["value"] for r in job.run(spark, REFERENCE_FIXTURES).collect()}
    assert got == {k: str(v) for k, v in GOLDEN.items()}


def test_tokenizer_semantics(spark):
    """hello vs hello, are distinct; case preserved; empties dropped —
    pinned divergence-free with the reference tokenizer."""
    from pyspark.sql import functions as F

    from mapreduce_rust_spark.functions.text import tokenize_whitespace

    df = spark.createDataFrame(
        [("  hello, World hello\tHELLO  \n x ",)], "text string"
    )
    [row] = df.select(tokenize_whitespace("text").alias("t")).collect()
    assert row["t"] == ["hello,", "World", "hello", "HELLO", "x"]


GUTENBERG_GLOB = "/root/reference/resource/pg-*.txt"


@pytest.mark.skipif(
    not __import__("glob").glob(GUTENBERG_GLOB),
    reason="gutenberg corpus not present",
)
def test_wordcount_gutenberg_corpus(spark):
    """The reference ships the classic ~3.3 MB Gutenberg wordcount
    corpus (resource/pg-*.txt, unused by its own code). Full-corpus
    parity against a pure-Python oracle: total tokens, vocabulary
    size, and the head of the frequency distribution."""
    import glob
    from collections import Counter

    from mapreduce_rust_spark.plans.wordcount import wordcount_files

    expect: Counter[str] = Counter()
    for p in sorted(glob.glob(GUTENBERG_GLOB)):
        with open(p, encoding="utf-8") as fh:
            expect.update(fh.read().split())

    got = {r["word"]: r["cnt"] for r in wordcount_files(spark, GUTENBERG_GLOB).collect()}
    assert sum(got.values()) == sum(expect.values())
    assert len(got) == len(expect)
    for w, n in expect.most_common(25):
        assert got[w] == n, w


def test_wordcount_dataframe_counts(spark):
    from mapreduce_rust_spark.plans.wordcount import wordcount

    df = spark.createDataFrame([("a b a",), ("b a",)], "text string")
    got = {r["word"]: r["cnt"] for r in wordcount(df, "text").collect()}
    assert got == {"a": 3, "b": 2}


# The cross-engine twins in functions/text.py: each Spark expression
# must agree with its DuckDB SQL, and no other module may spell either
# primitive out again (a local copy drifts from its twin unnoticed).
_TWIN_COPIES = {
    "SQL hash": re.compile(r"substr\(md5\([^;]{0,1000}?\),\s*1,\s*15\)"),
    "Spark hash": re.compile(r"F\.conv\(\s*F\.substring\(\s*F\.md5\([^;]{0,1000}?\),\s*1,\s*15\s*,?\s*\)"),
    "normalization": re.compile(re.escape("[^a-z0-9]+")),
}


def test_text_twins_agree_and_have_one_owner(spark):
    import duckdb

    import mapreduce_rust_spark
    from mapreduce_rust_spark.functions.text import (
        hash64,
        hash64_sql,
        normalize_sql,
        normalize_text,
    )

    samples = [
        "",
        "?!... ,;-- ''",
        "Hello World HELLO wOrLd",
        "Crème Brûlée, naïve café — Ünïcode!",
        "日本語 テキスト",
        "abc123 4567 0x1F 3.14",
        "a   b \t\t c\n\nd   ",
        "  leading and trailing  ",
        "MiXeD-case_with_under+scores",
        ("lorem Ipsum, DOLOR sit amet; " * 400)[:10240],
    ]
    rows = list(enumerate(samples))
    got_spark = [
        (r["h"], r["n"])
        for r in spark.createDataFrame(rows, "i int, s string")
        .select("i", hash64("s").alias("h"), normalize_text("s").alias("n"))
        .orderBy("i")
        .collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    got_sql = con.execute(
        f"SELECT {hash64_sql('s')}, {normalize_sql('s')} FROM t ORDER BY i"
    ).fetchall()
    assert got_spark == [tuple(r) for r in got_sql]

    root = os.path.dirname(mapreduce_rust_spark.__file__)
    owner = os.path.join(root, "functions", "text.py")
    copies = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            copies += [
                f"{os.path.relpath(path, root)}: {what}"
                for what, pat in _TWIN_COPIES.items()
                if pat.search(src)
            ]
    assert not copies, copies
