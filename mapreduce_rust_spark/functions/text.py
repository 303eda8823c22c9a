"""Text column expressions (pure ``pyspark.sql.functions`` — JVM-side,
whole-stage-codegen'd; no Python in the hot path).

This module owns the two primitives that make Spark and the DuckDB
oracles agree, each as a Spark expression beside its SQL twin:

* the 60-bit md5 hash — :func:`hash64` and :func:`hash64_sql`;
* the ``[^a-z0-9]+`` text normalization — :func:`normalize_text` and
  :func:`normalize_sql`.

Engine code and every oracle take them from here; they are spelled
nowhere else (``tests/test_wordcount.py`` checks both the parity of
each pair and that no other module spells them out).

``tokenize_whitespace`` pins the reference's exact tokenizer semantics
(``mr_app/src/client.rs:3-12``): split on whitespace runs, keep case,
keep punctuation ("hello" and "hello," are distinct tokens), drop empty
tokens. Everything else here is engine extension surface (SURVEY.md §7
Phase 2) built from the same primitives.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Cross-engine-stable 64-bit-ish hash: md5 is bit-identical everywhere,
# so oracle SQL (DuckDB) can reproduce it exactly — unlike xxhash64/
# murmur, whose seeds differ per engine. 15 hex chars = 60 bits, always
# non-negative, fits BIGINT exactly.


def hash64(col: Column | str) -> Column:
    """Deterministic non-negative 60-bit integer hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def hash64_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash64` over the SQL string ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def tokenize_whitespace(col: Column | str) -> Column:
    """Whitespace tokens, case/punctuation preserved, empties dropped —
    byte-for-byte the reference's ``split_whitespace`` map semantics
    (``mr_app/src/client.rs:7-10``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


# GPT-2-style pre-tokenizer pattern, ASCII-simplified so the SAME
# pattern string is interpreted identically by Java regex (Spark) and
# RE2 (DuckDB): contractions, space-prefixed letter runs, digit runs,
# punctuation runs. The real BPE merge table is a lookup after this
# split; counting these pre-tokens is the standard cheap proxy for
# "how many tokens will the tokenizer emit".
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_tokens(col: Column | str) -> Column:
    """Array of BPE-style pre-tokens (see ``BPE_ISH_PATTERN``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def normalize_text(col: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics to single spaces, trim.

    Canonicalization step shared by the dedup family so that
    near-duplicate detection is robust to case/punctuation noise.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def normalize_sql(expr: str) -> str:
    """DuckDB twin of :func:`normalize_text` over the SQL string ``expr``."""
    return f"trim(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'))"


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) over normalized text.

    The unit of MinHash / Jaccard near-dup detection. Built by zipping
    k fixed-offset slices of the token array — linear work per row.
    (The naive ``transform(sequence(...), i -> slice(toks, i, k))``
    formulation is ~6× slower: a column-valued slice start forces
    per-element interpreted evaluation and quadratic copying.)
    Returns [] when the document has fewer than k tokens.
    """
    toks = tokenize_whitespace(normalize_text(col))
    m = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        out = F.zip_with(
            out, F.slice(toks, j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out
