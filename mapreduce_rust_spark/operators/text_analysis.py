"""Text-analysis operators for LLM training-data pipelines: language
ID, quality scoring, token statistics, document fingerprinting.

All four are pure column-expression pipelines (``pyspark.sql.
functions`` array/string higher-order functions) — zero Python UDFs,
so they run inside whole-stage codegen and scale linearly with no
shuffle at all (per-row computation; the optional aggregations shuffle
on low-cardinality keys only). Each has a DuckDB oracle.

Determinism notes: every ratio is an exact-int division (identical
doubles in any engine); fingerprints are md5-based (bit-identical
everywhere).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql, single_partition
from mapreduce_rust_spark.functions.text import (
    hash64,
    normalize_text,
    tokenize_whitespace,
    word_shingles,
)
from mapreduce_rust_spark.indexes import session_index
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

# Stopword vote lists for the n-gram/stopword language heuristic.
# Deterministic and tiny by design — mirrored verbatim in the oracle.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "de": ["der", "die", "und", "das", "ist", "ein"],
    "es": ["el", "la", "los", "de", "que", "es", "un"],
    "fr": ["le", "la", "et", "les", "des", "est", "une"],
}
_LANG_ORDER = ["en", "de", "es", "fr"]  # tie-break priority


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token statistics — all array expressions, no
    explode, no shuffle: (id, n_tokens, n_types, avg_token_len,
    ttr type/token ratio)."""
    toks = tokenize_whitespace(F.col(text_col))
    n_tokens = F.size(toks).cast("bigint")
    n_types = F.size(F.array_distinct(toks)).cast("bigint")
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        fround(total_len.cast("double") / F.nullif(n_tokens, F.lit(0)), 4).alias(
            "avg_token_len"
        ),
        fround(n_types.cast("double") / F.nullif(n_tokens, F.lit(0)), 4).alias("ttr"),
    )


def _quality_exprs(text_col: str) -> dict[str, "Column"]:
    """The per-row quality-gate expressions, exposed so composed
    pipelines can fuse the gate into an existing projection pass
    instead of joining a separate ``quality_scores`` frame back on the
    id (the join carried an extra scan + SortMergeJoin per gate).
    Keys are the ``quality_scores`` output columns plus ``_n_chars``
    (its ``n_chars > 0`` row filter predicate input)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", "")).cast("bigint")
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", "")).cast("bigint")
    n_space = F.length(F.regexp_replace(t, r"[^ \t\n]", "")).cast("bigint")
    toks = tokenize_whitespace(t)
    n_tokens = F.size(toks).cast("bigint")
    alpha_ratio = n_alpha.cast("double") / n_chars
    digit_ratio = n_digit.cast("double") / n_chars
    space_ratio = n_space.cast("double") / n_chars
    mean_wlen = (n_chars - n_space).cast("double") / F.nullif(n_tokens, F.lit(0))
    # composite: favor alpha-heavy, whitespace-sane, mid-length words
    score = (
        alpha_ratio * 0.5
        + (1 - digit_ratio) * 0.2
        + F.when((mean_wlen >= 3) & (mean_wlen <= 10), F.lit(0.2)).otherwise(0.0)
        + F.when(n_tokens >= 20, F.lit(0.1)).otherwise(0.0)
    )
    return {
        "_n_chars": n_chars,
        "alpha_ratio": fround(alpha_ratio, 4),
        "digit_ratio": fround(digit_ratio, 4),
        "space_ratio": fround(space_ratio, 4),
        "mean_word_len": fround(mean_wlen, 4),
        "quality_score": fround(score, 4),
    }


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality features + a composite score: character-class
    ratios, mean word length, and a length prior. The score formula is
    arbitrary but fixed — its job is to be deterministic, cheap, and
    monotone in the obvious junk signals (symbol soup, digit dumps,
    one-word docs)."""
    e = _quality_exprs(text_col)
    return df.filter(e["_n_chars"] > 0).select(
        F.col(id_col),
        e["alpha_ratio"].alias("alpha_ratio"),
        e["digit_ratio"].alias("digit_ratio"),
        e["space_ratio"].alias("space_ratio"),
        e["mean_word_len"].alias("mean_word_len"),
        e["quality_score"].alias("quality_score"),
    )


def _langid_exprs(text_col: str) -> dict[str, "Column"]:
    """The per-row language-id expressions (``{lang}_hits`` columns +
    ``pred_lang``), exposed for the same gate-fusion reason as
    :func:`_quality_exprs`."""
    toks = F.array_distinct(tokenize_whitespace(normalize_text(F.col(text_col))))
    hits = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    pred: Column = F.lit("und")
    # build the argmax CASE chain in reverse priority so earlier
    # languages win ties
    for lang in reversed(_LANG_ORDER):
        others = [o for o in _LANG_ORDER if o != lang]
        cond = (hits[lang] > 0) & F.lit(True)
        for o in others:
            if _LANG_ORDER.index(o) < _LANG_ORDER.index(lang):
                cond = cond & (hits[lang] > hits[o])
            else:
                cond = cond & (hits[lang] >= hits[o])
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    out: dict[str, Column] = {
        f"{lang}_hits": hits[lang].cast("int") for lang in _LANG_ORDER
    }
    out["pred_lang"] = pred
    return out


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language ID: count distinct stopword hits per
    language over normalized tokens; argmax with fixed tie-break
    order, 'und' (undetermined) when no list scores. A real pipeline
    would swap in fastText/CLD3 via a Pandas UDF behind the same
    column contract; the heuristic here keeps the operator
    self-contained and oracle-checkable."""
    e = _langid_exprs(text_col)
    return df.select(
        F.col(id_col),
        *[e[f"{lang}_hits"].alias(f"{lang}_hits") for lang in _LANG_ORDER],
        e["pred_lang"].alias("pred_lang"),
    )


def _language_id_sql(src: str = "documents") -> str:
    hit_exprs = ",\n       ".join(
        f"CAST(len(list_intersect(toks, {_sql_list(words)})) AS INT) AS {lang}_hits"
        for lang, words in STOPWORDS.items()
    )
    # same argmax semantics: earlier language in _LANG_ORDER wins ties
    conds = []
    for lang in _LANG_ORDER:
        parts = [f"{lang}_hits > 0"]
        for o in _LANG_ORDER:
            if o == lang:
                continue
            op = ">" if _LANG_ORDER.index(o) < _LANG_ORDER.index(lang) else ">="
            parts.append(f"{lang}_hits {op} {o}_hits")
        conds.append(f"WHEN {' AND '.join(parts)} THEN '{lang}'")
    return f"""
WITH n AS (
  SELECT doc_id,
         list_distinct(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS toks
  FROM {src}
),
h AS (
  SELECT doc_id,
       {hit_exprs}
  FROM n
)
SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
       CASE {' '.join(conds)} ELSE 'und' END AS pred_lang
FROM h
"""


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: md5 of the normalized text (content
    identity robust to case/punctuation noise) + the minimum token
    hash (a 1-permutation MinHash, usable as a cheap similarity
    prefilter)."""
    norm = normalize_text(F.col(text_col))
    toks = tokenize_whitespace(norm)
    min_tok_hash = F.array_min(
        F.transform(toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"))
    )
    return df.filter(F.length(norm) > 0).select(
        F.col(id_col),
        F.md5(norm).alias("fp_norm_md5"),
        min_tok_hash.alias("fp_min_token_hash"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
    )


# --- registry queries -----------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text")


ORACLE["text_token_stats"] = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
       floor(round(round((CAST(list_aggregate(list_transform(toks, x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE) / len(toks)), 8), 8) * 10000) / 10000 AS avg_token_len,
       floor(round(round((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)), 8), 8) * 10000) / 10000 AS ttr
FROM t
"""


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-cost estimation: BPE-style pre-token counts next to
    whitespace counts, plus chars-per-pretoken (the compression-ratio
    proxy used to budget LLM training tokens). Same regex string
    evaluated by both engines."""
    from mapreduce_rust_spark.functions.text import bpe_ish_tokens

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bpe = bpe_ish_tokens(F.col("text"))
    ws = tokenize_whitespace(F.col("text"))
    n_bpe = F.size(bpe).cast("bigint")
    return docs.filter(F.length("text") > 0).select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(ws).cast("bigint").alias("n_ws_tokens"),
        fround(
            F.length("text").cast("double") / F.nullif(n_bpe, F.lit(0)), 4
        ).alias("chars_per_token"),
    )


ORACLE["text_bpe_tokens"] = r"""
WITH t AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS nb,
         len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS nw
  FROM documents WHERE length(text) > 0
)
SELECT doc_id,
       CAST(nb AS BIGINT) AS n_bpe_tokens,
       CAST(nw AS BIGINT) AS n_ws_tokens,
       floor(round(length(text)::DOUBLE / nb, 8) * 10000) / 10000 AS chars_per_token
FROM t
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text")


ORACLE["text_quality"] = """
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
         CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS BIGINT) AS n_space,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
  WHERE length(text) > 0
),
r AS (
  SELECT doc_id,
         CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio,
         CAST(n_digit AS DOUBLE) / n_chars AS digit_ratio,
         CAST(n_space AS DOUBLE) / n_chars AS space_ratio,
         CAST(n_chars - n_space AS DOUBLE) / n_tokens AS mean_wlen,
         n_tokens
  FROM f
)
SELECT doc_id,
       floor(round(alpha_ratio, 8) * 10000) / 10000 AS alpha_ratio,
       floor(round(digit_ratio, 8) * 10000) / 10000 AS digit_ratio,
       floor(round(space_ratio, 8) * 10000) / 10000 AS space_ratio,
       floor(round(mean_wlen, 8) * 10000) / 10000 AS mean_word_len,
       floor(round((alpha_ratio * 0.5 + (1 - digit_ratio) * 0.2
              + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 0.2 ELSE 0.0 END)
              + (CASE WHEN n_tokens >= 20 THEN 0.1 ELSE 0.0 END)), 8) * 10000) / 10000 AS quality_score
FROM r
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text")


ORACLE["text_lang_id"] = _language_id_sql()


WIN_K = 4  # winnowing k-gram width (tokens)
WIN_W = 4  # winnowing window: every window of W consecutive k-gram
#            hashes contributes its minimum — guarantees any shared
#            run of >= W+K-1 tokens shares a fingerprint (MOSS bound)


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every {k}-token k-gram, slide a
    {w}-window over the hash sequence, keep each window's MINIMUM —
    the selection guarantees any shared substring of at least
    {w}+{k}-1 tokens leaves at least one COMMON fingerprint in both
    documents, while storing only ~2/(w+1) of all hashes. Output: the
    cross-document shared-fingerprint census (fingerprint → docs,
    occurrences) for fingerprints in >= 2 docs, top 100 — the
    plagiarism/boilerplate detector at fingerprint (not full-scan)
    cost. Spark side is array-native per row (k-gram hashes, window
    minima, set-distinct — zero shuffle until the census), and the
    census keys on a 64-bit value with map-side combine; at 100 TB
    the fingerprint index is the ~2/(w+1)-sampled artifact production
    stores. The identical selection runs in DuckDB list functions."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    h = F.transform(
        word_shingles(F.col("text"), WIN_K), lambda s: hash64(s)
    )
    hc = F.col("h")
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(hc) - F.lit(WIN_W - 1)),
            lambda s: F.array_min(F.slice(hc, s, WIN_W)),
        )
    )
    fps = (
        docs.select("doc_id", h.alias("h"))
        .filter(F.size("h") >= WIN_W)
        .select("doc_id", F.explode(mins).alias("fp"))
    )
    # (doc_id, fp) pairs are DISTINCT by construction (``mins`` is
    # array_distinct'd per row and doc_id is unique), so
    # countDistinct(doc_id) per fp equals a plain count — same values,
    # without the Expand + two-level distinct aggregation the
    # countDistinct plan pays (guide §2.3: aggregate before you
    # shuffle; the plain count partial-aggregates map-side).
    return (
        fps.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(), "fp")
        .limit(100)
    )


text_winnowing_fingerprints.__doc__ = text_winnowing_fingerprints.__doc__.format(
    k=WIN_K, w=WIN_W
)


ORACLE["text_winnowing_fingerprints"] = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(regexp_replace(lower(text),
             '[^a-z0-9]+', ' ', 'g')), ' '), x -> x <> '') AS l
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, len(l) - {WIN_K - 1}),
           i -> ('0x' || substr(md5(array_to_string(l[i:i+{WIN_K - 1}], ' ')),
                 1, 15))::BIGINT
         ) AS h
  FROM toks WHERE len(l) >= {WIN_K}
),
fps AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(h) - {WIN_W - 1}),
           s -> list_aggregate(h[s:s+{WIN_W - 1}], 'min')
         ))) AS fp
  FROM grams WHERE len(h) >= {WIN_W}
)
SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occ
FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occ DESC, fp
LIMIT 100
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprints(fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text")


ORACLE["text_fingerprint"] = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id,
       md5(norm) AS fp_norm_md5,
       list_aggregate(
         list_transform(string_split(norm, ' '),
                        x -> ('0x' || substr(md5(x), 1, 15))::BIGINT),
         'min') AS fp_min_token_hash,
       CAST(length(norm) AS BIGINT) AS n_chars_norm
FROM n WHERE norm <> ''
"""


def token_diversity(df, id_col: str, text_col: str):
    """Gini–Simpson token diversity per document: 1 − Σc(c−1)/(n(n−1))
    over whitespace-token counts — 0 for a one-token loop, →1 for
    all-distinct text. Deliberately LOG-FREE (unlike Shannon entropy):
    pure integer ratios divide identically in every IEEE-754 engine,
    so the oracle matches bit-for-bit where a libm ``ln`` might not.
    Same explode→count→fold shape as word count; one shuffle keyed on
    (doc, token), high cardinality."""
    toks = df.select(
        F.col(id_col), F.explode(tokenize_whitespace(text_col)).alias("tok")
    )
    counts = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("rep_pairs"),
        )
        .filter(F.col("n_tokens") >= 2)
        .select(
            id_col,
            "n_tokens",
            fround(
                1
                - F.col("rep_pairs").cast("double")
                / (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double"),
                6,
            ).alias("diversity"),
        )
    )


def text_lm_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram likelihood score per document: train a bigram
    frequency table over the WHOLE corpus (one aggregation), broadcast
    it, and score each document by the mean relative frequency of its
    bigrams — the cheap self-supervised fluency/outlier signal (low
    score = bigrams rare in this corpus). Log-free: mean of integer
    count ratios, deterministic across engines; fround guards the
    final division.

    Two passes over the token stream, both shuffling only (bigram)
    or (doc, stats) keys; the model table (|distinct bigrams|) is
    broadcast, so scoring never shuffles the corpus itself."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokenize_whitespace("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    stream = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    model = stream.groupBy("bg").agg(F.count(F.lit(1)).alias("bg_n"))
    total = stream.agg(F.count(F.lit(1)).alias("total_bg"))
    scored = (
        stream.join(F.broadcast(model), "bg")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            fround(
                F.avg(F.col("bg_n").cast("double") / F.col("total_bg").cast("double"))
                * 1_000_000,
                4,
            ).alias("mean_bg_freq_ppm"),
        )
    )
    return scored


ORACLE["text_lm_likelihood"] = rf"""
WITH lists AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS tok,
         unnest(generate_series(1, len(l))) AS ord
  FROM lists
),
bg0 AS (
  SELECT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS bg
  FROM toks
),
stream AS (SELECT doc_id, bg FROM bg0 WHERE bg IS NOT NULL),
model AS (SELECT bg, count(*) AS bg_n FROM stream GROUP BY bg),
total AS (SELECT count(*) AS total_bg FROM stream)
SELECT s.doc_id, count(*) AS n_bigrams,
       {fround_sql("avg(CAST(bg_n AS DOUBLE) / CAST(total_bg AS DOUBLE)) * 1000000", 4)} AS mean_bg_freq_ppm
FROM stream s JOIN model USING (bg) CROSS JOIN total
GROUP BY s.doc_id
"""


def text_charset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class census — the charset/encoding QA
    gate a corpus passes before tokenizer training: share of
    lowercase alpha, uppercase alpha, digits, whitespace, and
    everything-else (the mojibake/control-char bucket) plus docs and
    total chars per source. A source whose "other" share spikes is
    broken extraction, not language. Character-class counts are
    length-of-regex-stripped-string expressions — pure JVM codegen,
    one scan, and the aggregation keys on the tiny source vocabulary,
    so map-side combine collapses everything before the shuffle at
    any corpus size. The identical POSIX classes run in DuckDB."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))

    def cnt(pattern: str) -> Column:
        return F.length(F.regexp_replace("text", pattern, ""))

    per_doc = docs.select(
        "source",
        F.length("text").alias("n"),
        (F.length("text") - cnt("[a-z]")).alias("lower"),
        (F.length("text") - cnt("[A-Z]")).alias("upper"),
        (F.length("text") - cnt("[0-9]")).alias("digit"),
        (F.length("text") - cnt(r"\s")).alias("space"),
    )
    tot = F.sum("n").cast("double")
    share = lambda c: fround(F.sum(c) / tot, 6)  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_chars"),
            share("lower").alias("lower_share"),
            share("upper").alias("upper_share"),
            share("digit").alias("digit_share"),
            share("space").alias("space_share"),
            fround(
                (
                    tot
                    - F.sum("lower")
                    - F.sum("upper")
                    - F.sum("digit")
                    - F.sum("space")
                )
                / tot,
                6,
            ).alias("other_share"),
        )
        .orderBy("source")
    )


ORACLE["text_charset_profile"] = rf"""
WITH per_doc AS (
  SELECT source,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS lower,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS upper,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
         length(text) - length(regexp_replace(text, '\s', '', 'g')) AS space
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_chars,
       {fround_sql("sum(lower) / CAST(sum(n) AS DOUBLE)", 6)} AS lower_share,
       {fround_sql("sum(upper) / CAST(sum(n) AS DOUBLE)", 6)} AS upper_share,
       {fround_sql("sum(digit) / CAST(sum(n) AS DOUBLE)", 6)} AS digit_share,
       {fround_sql("sum(space) / CAST(sum(n) AS DOUBLE)", 6)} AS space_share,
       {fround_sql(
           "(CAST(sum(n) AS DOUBLE) - sum(lower) - sum(upper) - sum(digit) - sum(space))"
           " / CAST(sum(n) AS DOUBLE)", 6)} AS other_share
FROM per_doc GROUP BY source ORDER BY source
"""


def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return token_diversity(docs, "doc_id", "text")


ORACLE["text_diversity"] = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
counts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
folded AS (
  SELECT doc_id, sum(c) AS n_tokens, sum(c * (c - 1)) AS rep_pairs
  FROM counts GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       {fround_sql("1 - CAST(rep_pairs AS DOUBLE) / CAST(n_tokens * (n_tokens - 1) AS DOUBLE)", 6)} AS diversity
FROM folded WHERE n_tokens >= 2
"""


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First step of BPE vocabulary induction: the 30 most frequent
    adjacent character pairs inside lowercase alpha tokens — the
    statistic a byte-pair-encoding trainer computes before every merge.
    The pair explosion is a pure JVM expression chain (split →
    sequence → transform → explode, whole-stage codegen, no Python);
    the count shuffles only |alphabet|² ≤ 676 keys, so map-side
    partial aggregation collapses the stream regardless of corpus
    size. Deterministic tiebreak on the pair string. (No fan_out: the
    split+explode is light enough that the extra exchange costs more
    than single-partition tokenization saves at test scale, and real
    multi-split inputs parallelize the scan natively.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


ORACLE["bpe_pair_counts"] = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
pairs AS (
  SELECT substring(tok, i, 2) AS pair
  FROM toks, unnest(generate_series(1, length(tok) - 1)) AS g(i)
  WHERE length(tok) >= 2
)
SELECT pair, count(*) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
"""




# Pipeline keep threshold on the composite quality score — lives
# beside the score definition so every consumer (pipeline gates,
# kappa rater B) interpolates the SAME constant by name.
QUALITY_GATE_MIN = 0.5


def _quality_sql(src: str = "documents") -> str:
    """DuckDB (doc_id, quality_score) twin of quality_scores() —
    shared by the pipeline and budget-selection oracles. ``src`` is
    the (doc_id, text) relation to score — the corpus-prep v2 oracle
    scores the span-excised CTE instead of raw documents."""
    score = (
        "(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)) * 0.5"
        " + (1 - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text)) * 0.2"
        " + (CASE WHEN (length(text) - length(regexp_replace(text, '[^ \t\n]', '', 'g')))::DOUBLE"
        r"             / len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))"
        "        BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)"
        r" + (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) >= 20"
        "        THEN 0.1 ELSE 0.0 END)"
    )
    return (
        f"SELECT doc_id, {fround_sql(score, 4)} AS quality_score\n"
        f"FROM {src} WHERE length(text) > 0"
    )


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation for the heuristic language-ID: confusion
    matrix (true lang × predicted lang → count) against the corpus's
    labeled ``lang`` column — the accuracy report a pipeline produces
    before trusting a cheap classifier to route 100 TB. One join on
    doc_id (both sides are per-doc projections of the same scan) and
    a |langs|² aggregation."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pred = language_id(docs, "doc_id", "text").select("doc_id", "pred_lang")
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


ORACLE["lang_id_confusion"] = f"""
SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
FROM documents d JOIN ({_language_id_sql()}) p USING (doc_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# Gopher-style rule thresholds (Rae et al. 2021, table A1 — public).
# Rules the synthetic corpus can't exercise (bullet/ellipsis line
# ratios need multi-line docs) are omitted rather than vacuously
# reported.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_WLEN, GOPHER_MAX_WLEN = 3.0, 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOPWORDS = 1


def _gopher_exprs(text_col: str) -> dict[str, "Column"]:
    """The per-row Gopher-rule expressions (metric + flag columns of
    ``gopher_rules``), exposed for gate fusion like
    :func:`_quality_exprs`. ``_n_words`` is the row-filter input
    (``gopher_rules`` drops zero-token docs)."""
    toks = tokenize_whitespace(text_col)
    n = F.size(toks)
    mean_wlen = fround(
        F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
        / n.cast("double"),
        4,
    )
    alpha_frac = fround(
        F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("double") / n, 4
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    ok_words = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    ok_wlen = (mean_wlen >= GOPHER_MIN_WLEN) & (mean_wlen <= GOPHER_MAX_WLEN)
    ok_alpha = alpha_frac > GOPHER_MIN_ALPHA_FRAC
    ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
    return {
        "_n_words": n,
        "n_words": n,
        "mean_word_len": mean_wlen,
        "alpha_word_frac": alpha_frac,
        "n_stopwords": n_stop,
        "ok_word_count": ok_words.cast("int"),
        "ok_mean_wlen": ok_wlen.cast("int"),
        "ok_alpha_frac": ok_alpha.cast("int"),
        "ok_stopwords": ok_stop.cast("int"),
        "keep": (ok_words & ok_wlen & ok_alpha & ok_stop).cast("int"),
    }


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-paper quality FILTER report: per-document rule metrics,
    one pass/fail flag per rule, and the overall keep decision — the
    doc-level gate a pretraining pipeline runs before tokenization.
    Unlike ``text_quality`` (a soft score), this is the hard
    rule-based drop decision with per-rule attribution, so the funnel
    report can say WHY documents were dropped. Embarrassingly
    parallel: token-array expressions per row, zero shuffle — at
    100 TB the cost is one pass over the text fused with the scan."""
    e = _gopher_exprs(text_col)
    return df.filter(e["_n_words"] > 0).select(
        F.col(id_col),
        *[
            e[c].alias(c)
            for c in (
                "n_words",
                "mean_word_len",
                "alpha_word_frac",
                "n_stopwords",
                "ok_word_count",
                "ok_mean_wlen",
                "ok_alpha_frac",
                "ok_stopwords",
                "keep",
            )
        ],
    )


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules(
        fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text"
    )


ORACLE["text_gopher_quality"] = rf"""
WITH lists AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
  FROM documents
),
m AS (
  SELECT doc_id,
         len(w) AS n_words,
         {fround_sql("list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w)", 4)} AS mean_word_len,
         {fround_sql("len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(w)", 4)} AS alpha_word_frac,
         len(list_intersect(list_distinct(list_transform(w, x -> lower(x))),
             {_sql_list(GOPHER_STOPWORDS)})) AS n_stopwords
  FROM lists WHERE len(w) > 0
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
       alpha_word_frac, CAST(n_stopwords AS INT) AS n_stopwords,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} AS INT) AS ok_word_count,
       CAST(mean_word_len BETWEEN {GOPHER_MIN_WLEN} AND {GOPHER_MAX_WLEN} AS INT) AS ok_mean_wlen,
       CAST(alpha_word_frac > {GOPHER_MIN_ALPHA_FRAC} AS INT) AS ok_alpha_frac,
       CAST(n_stopwords >= {GOPHER_MIN_STOPWORDS} AS INT) AS ok_stopwords,
       CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND mean_word_len BETWEEN {GOPHER_MIN_WLEN} AND {GOPHER_MAX_WLEN}
            AND alpha_word_frac > {GOPHER_MIN_ALPHA_FRAC}
            AND n_stopwords >= {GOPHER_MIN_STOPWORDS} AS INT) AS keep
FROM m
"""


N_BPE_MERGES = 3


def _bpe_trained_vocab(spark: SparkSession, sf_dir: str):
    """BPE TRAINING loop (Sennrich et al. 2016): learn the first
    ``N_BPE_MERGES`` merge rules over the corpus — the iterative step
    ``bpe_pair_counts`` (one round of pair statistics) feeds. Each
    round: count adjacent symbol pairs weighted by word frequency,
    pick the most frequent pair (count desc, then lexicographic
    tie-break), and greedily merge it left-to-right in every word's
    symbol sequence. Output = the learned merge table.

    Scale shape: ONE corpus-wide shuffle builds the word-frequency
    vocab; the merge loop then runs on the vocab (millions of rows at
    100 TB, not the corpus), with the argmax pair broadcast back —
    exactly how production BPE trainers distribute (corpus pass once,
    train on aggregated counts). The loop is fully declarative (no
    driver collect): round r's plan embeds round r-1's broadcast
    argmax. Like ``embedding_kmeans``, the fixed round count lets the
    oracle unroll the whole trace as chained CTEs — an iterative
    algorithm with full value-level verification. Returns the
    merged vocab frame (w, cnt, s) and the per-round argmax frames —
    ``bpe_train_merges`` emits the merge table,
    ``corpus_tokenizer_coverage`` consumes the merged symbol
    sequences."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # localCheckpoint pins the vocab: without it every merge round's
    # plan branch re-embeds (and re-runs) the corpus word-count scan —
    # measured 7 parquet scans in the executed plan. The checkpoint
    # makes the corpus pass happen exactly ONCE; the loop then reads
    # the (vocab-sized) materialized frame. Same pattern as the
    # components loop (operators/graph.py).
    words = (
        docs.select(F.explode(tokenize_whitespace("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("w")), lambda i: F.col("w").substr(i, F.lit(1))
    )
    vocab = words.select("w", "cnt", chars.alias("s"))
    tops = []
    for r in range(1, N_BPE_MERGES + 1):
        m = F.greatest(F.size("s") - 1, F.lit(0))
        pairs = vocab.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice("s", 1, m),
                    F.slice("s", 2, m),
                    lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
        )
        tops.append(
            top.select(
                F.lit(r).alias("merge_rank"), "lhs", "rhs", "pair_count"
            )
        )
        # LEFT join on TRUE (not a cross join): when a round finds no
        # pair at all (vocab already fully merged), the empty argmax
        # must leave the vocab intact, not annihilate it — null ml/mr
        # nulls the fold condition, so every symbol passes through
        merged = vocab.join(
            F.broadcast(
                top.select(F.col("lhs").alias("ml"), F.col("rhs").alias("mr"))
            ),
            F.lit(True),
            "left",
        )
        # greedy left-to-right merge application as an array fold;
        # try_element_at: NULL (not ANSI error) on the empty-acc probe
        new_s = F.aggregate(
            "s",
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.try_element_at(acc, F.lit(-1)) == F.col("ml"))
                & (x == F.col("mr")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.col("ml"), F.col("mr"))),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = merged.select("w", "cnt", new_s.alias("s"))
    return vocab, tops


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, tops = _bpe_trained_vocab(spark, sf_dir)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionAll(t)
    return out.orderBy("merge_rank")


def _bpe_train_oracle(n_merges: int = N_BPE_MERGES) -> str:
    ctes = [
        r"""words AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS w
    FROM documents) GROUP BY w)""",
        """v0 AS (
  SELECT w, cnt,
         list_transform(generate_series(1, length(w)), i -> w[i]) AS s
  FROM words)""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""p{r} AS (
  SELECT s_l AS lhs, s_r AS rhs, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt, unnest(s[1:len(s)-1]) AS s_l, unnest(s[2:len(s)]) AS s_r
        FROM v{r - 1} WHERE len(s) >= 2)
  GROUP BY 1, 2)""")
        ctes.append(f"""m{r} AS (
  SELECT lhs, rhs, pair_count FROM p{r}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1)""")
        ctes.append(f"""v{r} AS (
  SELECT w, cnt,
         list_reduce(list_transform(s, x -> [x]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.lhs
                             AND x[1] = m.rhs
                       THEN acc[1:len(acc)-1] || [m.lhs || m.rhs]
                       ELSE acc || x END) AS s
  FROM v{r - 1} LEFT JOIN m{r} m ON TRUE)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, lhs, rhs, pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {', '.join(ctes)}\n{union}\nORDER BY merge_rank"


ORACLE["bpe_train_merges"] = _bpe_train_oracle()


def corpus_tokenizer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer COVERAGE report: apply the learned BPE merges back to
    the corpus and measure, per source, how much the 3-rule tokenizer
    compresses — total char count vs total post-merge symbol count
    and the chars-per-symbol ratio. This is the report that decides
    whether a tokenizer trained on one mix generalizes to another
    (sources with low compression are out-of-domain for the merges).
    Plan: the (tiny, broadcast) merged vocab joins the per-(source,
    word) occurrence counts — one corpus shuffle on (source, word),
    one broadcast join, one per-source aggregation."""
    vocab, _ = _bpe_trained_vocab(spark, sf_dir)
    syms = vocab.select(
        "w",
        F.size("s").alias("n_syms"),
        F.length("w").alias("n_chars"),
    )
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    occ = (
        docs.select("source", F.explode(tokenize_whitespace("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        occ.join(F.broadcast(syms), "w")
        .groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("n_chars")).alias("total_chars"),
            F.sum(F.col("n") * F.col("n_syms")).alias("total_symbols"),
        )
        .select(
            "source",
            "n_tokens",
            "total_chars",
            "total_symbols",
            fround(
                F.col("total_chars").cast("double") / F.col("total_symbols"), 6
            ).alias("chars_per_symbol"),
        )
        .orderBy("source")
    )


def _tokenizer_coverage_oracle() -> str:
    chain = _bpe_train_oracle()
    # reuse the trainer's CTE chain up to the final merged vocab v3,
    # then aggregate coverage instead of emitting the merge table
    body = chain[chain.index("WITH ") : chain.index("\nSELECT 1 AS merge_rank")]
    return f"""{body},
occ AS (
  SELECT source, w, count(*) AS n FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS w
    FROM documents) GROUP BY 1, 2
)
SELECT o.source, CAST(sum(o.n) AS BIGINT) AS n_tokens,
       CAST(sum(o.n * length(v.w)) AS BIGINT) AS total_chars,
       CAST(sum(o.n * len(v.s)) AS BIGINT) AS total_symbols,
       {fround_sql("sum(o.n * length(v.w))::DOUBLE / sum(o.n * len(v.s))", 6)} AS chars_per_symbol
FROM occ o JOIN v{N_BPE_MERGES} v ON o.w = v.w
GROUP BY o.source ORDER BY o.source
"""


ORACLE["corpus_tokenizer_coverage"] = _tokenizer_coverage_oracle()


RAKE_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is"]
RAKE_MAX_PHRASE = 4
RAKE_TOPK = 20


def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = summed length of phrases containing
    it), a phrase scores the sum of its words; output the corpus-wide
    top {RAKE_TOPK} phrases (length ≤ {RAKE_MAX_PHRASE}). The classic
    cheap keyphrase pass a corpus-exploration pipeline runs before
    anything model-based. Plan: one posexplode + running-sum window
    splits phrases (phrase id = stopwords seen so far), two hash
    aggregations build word stats, one broadcast join scores phrases
    — every shuffle keyed on tokens/phrases (high cardinality)."""
    from pyspark.sql import Window as W

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("pos", "w"),
    )
    is_stop = F.col("w").isin(RAKE_STOPWORDS).cast("int")
    win = W.partitionBy("doc_id").orderBy("pos")
    flagged = toks.select(
        "doc_id", "pos", "w", is_stop.alias("stop")
    ).withColumn("pid", F.sum("stop").over(win))
    phrases = (
        flagged.filter(F.col("stop") == 0)
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_PHRASE)
    )
    words = phrases.select(
        "plen", F.explode(F.split("phrase", " ")).alias("w")
    )
    stats = words.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    scored_words = stats.select(
        "w", (F.col("deg").cast("double") / F.col("freq")).alias("wscore")
    )
    distinct_phrases = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    phrase_scores = (
        distinct_phrases.select(
            "phrase", "n_occurrences", F.explode(F.split("phrase", " ")).alias("w")
        )
        .join(F.broadcast(scored_words), "w")
        .groupBy("phrase", "n_occurrences")
        .agg(fround(F.sum("wscore"), 4).alias("score"))
    )
    return phrase_scores.orderBy(
        F.col("score").desc(), "phrase"
    ).limit(RAKE_TOPK)


ORACLE["text_rake_keyphrases"] = rf"""
WITH toks AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS l
        FROM documents)
),
flagged AS (
  SELECT doc_id, pos, w,
         CASE WHEN w IN {tuple(RAKE_STOPWORDS)} THEN 1 ELSE 0 END AS stop,
         sum(CASE WHEN w IN {tuple(RAKE_STOPWORDS)} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS pid
  FROM toks
),
phrases AS (
  SELECT doc_id, pid, string_agg(w, ' ' ORDER BY pos) AS phrase,
         count(*) AS plen
  FROM flagged WHERE stop = 0 GROUP BY doc_id, pid
  HAVING count(*) <= {RAKE_MAX_PHRASE}
),
words AS (
  SELECT plen, unnest(string_split(phrase, ' ')) AS w FROM phrases
),
stats AS (
  SELECT w, count(*) AS freq, sum(plen) AS deg FROM words GROUP BY w
),
dp AS (
  SELECT phrase, count(*) AS n_occurrences FROM phrases GROUP BY phrase
),
ps AS (
  SELECT d.phrase, d.n_occurrences,
         {fround_sql("sum(s.deg::DOUBLE / s.freq)", 4)} AS score
  FROM (SELECT phrase, n_occurrences,
               unnest(string_split(phrase, ' ')) AS w FROM dp) d
  JOIN stats s USING (w)
  GROUP BY d.phrase, d.n_occurrences
)
SELECT phrase, n_occurrences, score FROM ps
ORDER BY score DESC, phrase LIMIT {RAKE_TOPK}
"""


WINNOW_K = 3  # words per shingle
WINNOW_W = 4  # shingle-hash window


def winnowing_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = WINNOW_K, w: int = WINNOW_W
) -> DataFrame:
    """MOSS-style winnowing fingerprint summary (Schleimer, Wilkerson
    & Aiken, SIGMOD 2003): hash every k-word shingle IN DOCUMENT
    ORDER, slide a w-wide window over the hash sequence, keep each
    window's minimum, and the distinct kept hashes are the document's
    fingerprints. Guarantees every match of length ≥ w+k-1 words
    shares a fingerprint — positional coverage that the global
    min-hash (``text_fingerprint``) can't give. Summarized per doc
    (count / min / max / checksum) so the result is one row per
    document; the fingerprint SET (explode before distinct) is the
    posting-list form a plagiarism index would store. All array
    expressions — linear per row, zero shuffle."""
    from mapreduce_rust_spark.functions.text import hash64, word_shingles

    sh = word_shingles(F.col(text_col), k)
    hashes = F.transform(sh, hash64)
    base = df.select(F.col(id_col), hashes.alias("h"))
    n = F.size("h")
    m = F.greatest(n - F.lit(w - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda j: F.array_min(F.slice("h", j, w)),
    )
    fps = F.when(n >= w, F.array_distinct(mins)).otherwise(
        F.when(n > 0, F.array(F.array_min("h"))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    return base.select(
        id_col,
        n.alias("n_shingles"),
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("fp_min"),
        F.array_max(fps).alias("fp_max"),
        # checksum folds each 60-bit hash mod 1e9+7 first: ≤1e9 per
        # term keeps the bigint sum overflow-free in both engines
        F.aggregate(
            fps, F.lit(0).cast("bigint"), lambda a, x: a + x % 1000000007
        ).alias("fp_checksum"),
    )


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_fingerprints(
        fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text"
    )


ORACLE["text_winnowing"] = rf"""
WITH lists AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS l
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(l) - {WINNOW_K - 1}, 0)),
           i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 15))::BIGINT) AS h
  FROM lists
),
fp AS (
  SELECT doc_id, len(h) AS n_shingles,
         CASE WHEN len(h) >= {WINNOW_W} THEN
           list_distinct(list_transform(
             generate_series(1, len(h) - {WINNOW_W - 1}),
             j -> list_aggregate(h[j:j+{WINNOW_W - 1}], 'min')))
         WHEN len(h) > 0 THEN [list_aggregate(h, 'min')]
         ELSE [] END AS fps
  FROM sh
)
SELECT doc_id, CAST(n_shingles AS INT) AS n_shingles,
       CAST(len(fps) AS INT) AS n_fingerprints,
       list_aggregate(fps, 'min') AS fp_min,
       list_aggregate(fps, 'max') AS fp_max,
       CAST(coalesce(list_sum(list_transform(fps, x -> x % 1000000007)), 0)
            AS BIGINT) AS fp_checksum
FROM fp
"""


_PMI_MIN_COUNT = 5  # min bigram support before a lift score is trusted
_PMI_TOPN = 50


def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information, emitted in
    its EXP form ("lift" = p(w1,w2) / (p(w1)·p(w2))) so the score is
    one integer-ratio division instead of a log — bit-stable across
    engines, and since log is monotone the collocation RANKING is
    identical to textbook PMI. Three aggregations, all shuffling
    sketch-sized keys (unigram + bigram vocab), never the corpus:
    unigram counts and bigram counts come from the same tokenized
    scan, and both model tables broadcast onto the scoring join.
    Support-filtered (count >= {min}) exactly like NLTK/textbook
    collocation finders so rare-pair noise doesn't top the list.

    Numerator/denominator are int64 products (safe to ~sf10 corpus
    sizes: N²·B < 2^63), cast to double only for the final division,
    written in the same order in both engines."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokenize_whitespace("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    uni_stream = docs.select(F.explode(toks).alias("w"))
    uni = uni_stream.groupBy("w").agg(F.count(F.lit(1)).alias("u_cnt"))
    n1 = uni_stream.agg(F.count(F.lit(1)).alias("n_uni"))
    bg_stream = docs.select(F.explode(bigrams).alias("bg")).select(
        F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    bg = (
        bg_stream.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _PMI_MIN_COUNT)
    )
    n2 = bg_stream.agg(F.count(F.lit(1)).alias("n_bg"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("u_cnt").alias("cnt1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("u_cnt").alias("cnt2"))
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            "pair_cnt",
            fround(
                (F.col("pair_cnt").cast("double") * F.col("n_uni") * F.col("n_uni"))
                / (
                    F.col("n_bg").cast("double")
                    * F.col("cnt1")
                    * F.col("cnt2")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(_PMI_TOPN)
    )


ORACLE["text_pmi_collocations"] = rf"""
WITH lists AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents
),
toks AS (
  SELECT doc_id, unnest(l) AS tok, unnest(generate_series(1, len(l))) AS ord
  FROM lists
),
uni AS (SELECT tok AS w, count(*) AS u_cnt FROM toks GROUP BY 1),
n1 AS (SELECT count(*) AS n_uni FROM toks),
bg0 AS (
  SELECT tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
  FROM toks
),
bg_stream AS (SELECT w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
bg AS (
  SELECT w1, w2, count(*) AS pair_cnt FROM bg_stream GROUP BY 1, 2
  HAVING count(*) >= {_PMI_MIN_COUNT}
),
n2 AS (SELECT count(*) AS n_bg FROM bg_stream)
SELECT w1, w2, pair_cnt,
       {fround_sql("(CAST(pair_cnt AS DOUBLE) * n_uni * n_uni)"
                   " / (CAST(n_bg AS DOUBLE) * u1.u_cnt * u2.u_cnt)", 6)}
         AS lift
FROM bg
JOIN uni u1 ON bg.w1 = u1.w
JOIN uni u2 ON bg.w2 = u2.w
CROSS JOIN n1 CROSS JOIN n2
ORDER BY lift DESC, w1, w2
LIMIT {_PMI_TOPN}
"""


def text_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared term/label association — the classic feature-
    selection statistic over the (word × lang) token contingency
    table, including the ZERO cells (a word absent from one language
    still contributes its expected count), which is why the grid is
    built as vocab × langs with a left join rather than from observed
    cells alone. Expected counts E = rowtotal·coltotal/N are exact
    integer ratios; chi² sums (O−E)²/E over ≤|langs| cells per word.
    Everything shuffles on vocabulary-sized keys; the marginals
    broadcast. High chi² = the term is language-discriminative —
    the exact computation a corpus-curation pipeline runs before
    trusting a cheap lang-ID feature."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    stream = docs.select(
        "lang", F.explode(tokenize_whitespace("text")).alias("w")
    )
    cells = stream.groupBy("w", "lang").agg(F.count(F.lit(1)).alias("o"))
    wtot = stream.groupBy("w").agg(F.count(F.lit(1)).alias("w_cnt"))
    ltot = stream.groupBy("lang").agg(F.count(F.lit(1)).alias("l_cnt"))
    n = stream.agg(F.count(F.lit(1)).alias("n"))
    grid = wtot.crossJoin(F.broadcast(ltot)).crossJoin(F.broadcast(n))
    return (
        grid.join(F.broadcast(cells), ["w", "lang"], "left")
        .select(
            "w",
            "w_cnt",
            (
                F.pow(
                    F.coalesce(F.col("o"), F.lit(0)).cast("double")
                    - F.col("w_cnt").cast("double") * F.col("l_cnt") / F.col("n"),
                    F.lit(2),
                )
                / (F.col("w_cnt").cast("double") * F.col("l_cnt") / F.col("n"))
            ).alias("term"),
        )
        .groupBy(F.col("w").alias("word"), F.col("w_cnt").alias("n_tokens"))
        .agg(fround(F.sum("term"), 6).alias("chi2"))
        .orderBy(F.col("chi2").desc(), "word")
    )


ORACLE["text_chi2_terms"] = rf"""
WITH stream AS (
  SELECT lang, unnest(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS w
  FROM documents
),
cells AS (SELECT w, lang, count(*) AS o FROM stream GROUP BY 1, 2),
wtot AS (SELECT w, count(*) AS w_cnt FROM stream GROUP BY 1),
ltot AS (SELECT lang, count(*) AS l_cnt FROM stream GROUP BY 1),
n AS (SELECT count(*) AS n FROM stream)
SELECT wtot.w AS word, w_cnt AS n_tokens,
       {fround_sql(
           "sum(pow(coalesce(o, 0) - CAST(w_cnt AS DOUBLE) * l_cnt / n.n, 2)"
           " / (CAST(w_cnt AS DOUBLE) * l_cnt / n.n))", 6)} AS chi2
FROM wtot CROSS JOIN ltot CROSS JOIN n
LEFT JOIN cells ON cells.w = wtot.w AND cells.lang = ltot.lang
GROUP BY 1, 2
ORDER BY chi2 DESC, word
"""


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit for the corpus: rank words by frequency
    (deterministic tie-break on the word), then least-squares
    ln(freq) ~ ln(rank) via the engines' built-in REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2 aggregates — a natural corpus would
    show slope ≈ −1; a flat slope is the signature of synthetic or
    templated text (exactly what this corpus is), which makes the
    statistic a cheap template-detection gate in a data pipeline.
    One vocabulary-sized aggregation + one 31-row regression: no
    corpus-sized shuffle anywhere. The global frequency rank is
    TWO-PHASE (same shape as ``abc_analysis``): words rank within
    their equal-frequency group (partitioned window), and the group's
    starting offset prefix-sums over the distinct-frequency frame —
    never a vocabulary-sized single-partition window."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(tokenize_whitespace("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window as W

    grp = counts.groupBy("cnt").agg(F.count(F.lit(1)).alias("n_words"))
    grp, w0 = single_partition(grp, by=[F.col("cnt").desc()])
    w_prev = w0.rowsBetween(W.unboundedPreceding, -1)
    offsets = grp.select(
        "cnt",
        F.coalesce(F.sum("n_words").over(w_prev), F.lit(0)).alias("off"),
    )
    w_in = W.partitionBy("cnt").orderBy("w")
    ranked = (
        counts.join(F.broadcast(offsets), "cnt")
        .withColumn("rnk", F.col("off") + F.row_number().over(w_in))
    ).select(
        F.log(F.col("cnt").cast("double")).alias("ln_f"),
        F.log(F.col("rnk").cast("double")).alias("ln_r"),
        "cnt",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("cnt").alias("n_tokens"),
        fround(F.expr("regr_slope(ln_f, ln_r)"), 6).alias("zipf_slope"),
        fround(F.expr("regr_intercept(ln_f, ln_r)"), 6).alias("zipf_intercept"),
        fround(F.expr("regr_r2(ln_f, ln_r)"), 6).alias("r2"),
    )


ORACLE["text_zipf_fit"] = rf"""
WITH counts AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS w
    FROM documents
  ) GROUP BY 1
),
ranked AS (
  SELECT ln(CAST(cnt AS DOUBLE)) AS ln_f,
         ln(CAST(row_number() OVER (ORDER BY cnt DESC, w) AS DOUBLE)) AS ln_r,
         cnt
  FROM counts
)
SELECT count(*) AS vocab, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       {fround_sql("regr_slope(ln_f, ln_r)", 6)} AS zipf_slope,
       {fround_sql("regr_intercept(ln_f, ln_r)", 6)} AS zipf_intercept,
       {fround_sql("regr_r2(ln_f, ln_r)", 6)} AS r2
FROM ranked
"""


def text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (token) Shannon entropy — the classic
    cheap gibberish/boilerplate filter: low entropy ⇒ repetitive
    template text, maximal entropy ⇒ every token distinct. Computed
    entirely as per-row array expressions (distinct tokens × counted
    occurrences — O(types·len) per row over a ≤100-token doc), so the
    full-corpus pass is whole-stage-codegen with ZERO shuffle before
    the 20-row per-source report. The oracle computes the same value
    by explode+GROUP BY — different dataflow, same numbers."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokenize_whitespace(F.col("text"))
    n = F.size(toks).cast("double")
    probs = F.transform(
        F.array_distinct(toks),
        lambda w: F.size(F.filter(toks, lambda t: t == w)).cast("double") / n,
    )
    entropy = -F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc + p * F.log2(p)
    )
    per_doc = docs.select(
        "source", fround(entropy, 6).alias("h")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg("h"), 4).alias("avg_entropy"),
            fround(F.min("h"), 4).alias("min_entropy"),
            fround(F.max("h"), 4).alias("max_entropy"),
        )
        .orderBy("source")
    )


ORACLE["text_unigram_entropy"] = rf"""
WITH t AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
           AS tok
  FROM documents
),
c AS (SELECT doc_id, source, tok, count(*) AS c FROM t GROUP BY 1, 2, 3),
n AS (SELECT doc_id, sum(c) AS n FROM c GROUP BY 1),
per_doc AS (
  SELECT c.source,
         {fround_sql(
             "-sum((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE)))", 6
         )} AS h
  FROM c JOIN n USING (doc_id)
  GROUP BY c.doc_id, c.source
)
SELECT source, count(*) AS n_docs,
       {fround_sql("avg(h)", 4)} AS avg_entropy,
       {fround_sql("min(h)", 4)} AS min_entropy,
       {fround_sql("max(h)", 4)} AS max_entropy
FROM per_doc GROUP BY 1 ORDER BY 1
"""


KN_DISCOUNT = 0.75  # absolute discount (Chen & Goodman 1999 default)
KN_TOPN = 20


def kn_bigram_model_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the interpolated-KN bigram model table for
    the documents dataset — the shared LM build of
    ``text_kneser_ney_bigram`` and ``text_bigram_perplexity`` (each
    re-ran the full corpus bigram count + marginals; the table itself
    is vocab²-bounded, so the checkpoint is model-sized, not
    corpus-sized)."""
    return session_index(
        spark, sf_dir, "kn-bigram-model",
        lambda: _kn_bigram_model(
            _doc_bigrams(fan_out(load_table(spark, sf_dir, "documents"))).select(
                "w1", "w2"
            )
        ),
    )


def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities — training a real
    n-gram LM over the corpus (the smoothing used by KenLM and every
    perplexity-filter pipeline):

      P_kn(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
                    + D · N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(·,·)

    Plan: bigrams come from one zip_with over each doc's token array
    (no self-join), the count table aggregates to at most
    |vocab|² rows — VOCAB-bounded, not corpus-bounded — so every
    downstream marginal (follower/predecessor type counts) is a
    broadcast-sized frame and the top-{KN_TOPN} is TakeOrdered, not a
    global sort. The one corpus-sized stage is the map-side-combined
    bigram count itself."""
    return (
        kn_bigram_model_index(spark, sf_dir)
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(KN_TOPN)
    )


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, source, w1, w2): each document's adjacent token pairs
    from one zip_with over the token array — no self-join."""
    toks = tokenize_whitespace(F.col("text"))
    n = F.size(toks)
    return docs.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                F.slice(toks, F.lit(1), n - 1),
                F.slice(toks, F.lit(2), n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "source", "bg.w1", "bg.w2")


def _kn_bigram_model(bigrams: DataFrame) -> DataFrame:
    """(w1, w2, c, pkn): the full interpolated-KN bigram table —
    VOCAB²-bounded, so every marginal join below is broadcast-sized."""
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    left = bc.groupBy("w1").agg(
        F.sum("c").alias("c_w1"),
        F.count(F.lit(1)).alias("n1_fw"),
    )
    right = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_pre"))
    types = bc.agg(F.count(F.lit(1)).alias("n_types"))
    d = F.lit(KN_DISCOUNT)
    pkn = (
        F.greatest(F.col("c") - d, F.lit(0.0)) / F.col("c_w1")
        + d
        * F.col("n1_fw")
        / F.col("c_w1")
        * (F.col("n1_pre") / F.col("n_types").cast("double"))
    )
    return (
        bc.join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(types))
        .select("w1", "w2", "c", fround(pkn, 6).alias("pkn"))
    )


# oracle note: every numeric literal is CAST to DOUBLE — DuckDB parses
# 0.75 as DECIMAL and BIGINT−DECIMAL division rounds differently from
# Spark's double arithmetic. _KN_CTES is shared by the top-N table and
# the per-document perplexity scorer.
_KN_CTES = rf"""t AS (
  SELECT doc_id, source, generate_subscripts(toks, 1) AS pos,
         unnest(toks) AS w
  FROM (
    SELECT doc_id, source,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
    FROM documents
  )
),
bg AS (
  SELECT doc_id, source, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM t
),
bc AS (
  SELECT w1, w2, count(*) AS c FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2
),
lft AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS c_w1, count(*) AS n1_fw
  FROM bc GROUP BY 1
),
rgt AS (SELECT w2, count(*) AS n1_pre FROM bc GROUP BY 1),
ty AS (SELECT count(*) AS n_types FROM bc),
pkn_t AS (
  SELECT w1, w2, c,
         {fround_sql(
             f"greatest(c - CAST({KN_DISCOUNT} AS DOUBLE), 0.0)"
             " / CAST(c_w1 AS DOUBLE)"
             f" + CAST({KN_DISCOUNT} AS DOUBLE) * n1_fw"
             " / CAST(c_w1 AS DOUBLE)"
             " * (n1_pre / CAST(n_types AS DOUBLE))", 6
         )} AS pkn
  FROM bc JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN ty
)"""

ORACLE["text_kneser_ney_bigram"] = f"""
WITH {_KN_CTES}
SELECT w1, w2, c, pkn FROM pkn_t
ORDER BY c DESC, w1, w2 LIMIT {KN_TOPN}
"""


def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source perplexity under the corpus's own KN bigram LM — the
    n-gram flavor of the perplexity filter (CCNet/KenLM style): score
    every document's bigrams with ``_kn_bigram_model``, average
    −log₂ P per document (bits/bigram; reported in log space so no
    cross-engine pow()), and report the per-source distribution. Low
    bits ⇒ stereotyped/templated text, high bits ⇒ atypical for the
    corpus — both tails are filter candidates. The model table is
    vocab²-bounded and BROADCAST to the per-doc bigram stream, so the
    scoring pass is one map-side join + one doc-keyed aggregation —
    the same shape at any corpus size; self-training means every
    observed bigram has pkn > 0 by construction."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bgs = _doc_bigrams(docs)
    model = kn_bigram_model_index(spark, sf_dir)
    per_doc = (
        bgs.join(F.broadcast(model.select("w1", "w2", "pkn")), ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(fround(F.avg(-F.log2("pkn")), 6).alias("nll_bits"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg("nll_bits"), 4).alias("avg_nll_bits"),
            fround(F.min("nll_bits"), 4).alias("min_nll_bits"),
            fround(F.max("nll_bits"), 4).alias("max_nll_bits"),
        )
        .orderBy("source")
    )


ORACLE["text_bigram_perplexity"] = f"""
WITH {_KN_CTES},
per_doc AS (
  SELECT bg.doc_id, bg.source,
         {fround_sql("avg(-log2(pkn))", 6)} AS nll_bits
  FROM bg JOIN pkn_t USING (w1, w2)
  WHERE bg.w2 IS NOT NULL
  GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       {fround_sql("avg(nll_bits)", 4)} AS avg_nll_bits,
       {fround_sql("min(nll_bits)", 4)} AS min_nll_bits,
       {fround_sql("max(nll_bits)", 4)} AS max_nll_bits
FROM per_doc GROUP BY 1 ORDER BY 1
"""


def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K·T^β of vocabulary growth across sources —
    the capacity-planning curve for tokenizer vocab and dedup index
    sizing (β ≈ 0.5 for natural text; β near 1 flags boilerplate-free
    or random-ish corpora, β near 0 flags template spam). Per source:
    total tokens T and distinct tokens V (the ONE data-sized shuffle,
    keyed on (source, token) with map-side partial dedup); the
    log-log least-squares fit runs over the |sources|-row frame via
    closed-form covariance — β = cov(lnT, lnV)/var(lnT) — and comes
    back as a broadcast scalar, so each source row also reports its
    fitted V̂ and residual. Lower-cased alnum tokens, same normalizer
    both engines."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(
                    F.trim(
                        F.regexp_replace(
                            F.lower("text"), "[^a-z0-9]+", " "
                        )
                    ),
                    " ",
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("tok"),
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
    )
    logs = per_src.select(
        "source",
        "n_tokens",
        "n_distinct",
        F.log("n_tokens").alias("lt"),
        F.log("n_distinct").alias("lv"),
    )
    fit = logs.agg(
        (F.covar_samp("lt", "lv") / F.var_samp("lt")).alias("beta"),
        F.avg("lt").alias("mlt"),
        F.avg("lv").alias("mlv"),
    )
    return (
        logs.crossJoin(F.broadcast(fit))
        .select(
            "source",
            "n_tokens",
            "n_distinct",
            fround("beta", 6).alias("heaps_beta"),
            fround(F.exp(F.col("mlv") - F.col("beta") * F.col("mlt")), 4).alias(
                "heaps_k"
            ),
            fround(
                F.exp(
                    F.col("mlv")
                    + F.col("beta") * (F.col("lt") - F.col("mlt"))
                ),
                2,
            ).alias("fitted_vocab"),
        )
        .orderBy("source")
    )


ORACLE["text_heaps_law"] = rf"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           x -> x <> '')) AS tok
  FROM documents
),
per_src AS (
  SELECT source, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct
  FROM toks GROUP BY 1
),
logs AS (
  SELECT source, n_tokens, n_distinct,
         ln(n_tokens) AS lt, ln(n_distinct) AS lv
  FROM per_src
),
fit AS (
  SELECT covar_samp(lt, lv) / var_samp(lt) AS beta,
         avg(lt) AS mlt, avg(lv) AS mlv
  FROM logs
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       {fround_sql("beta", 6)} AS heaps_beta,
       {fround_sql("exp(mlv - beta * mlt)", 4)} AS heaps_k,
       {fround_sql("exp(mlv + beta * (lt - mlt))", 2)} AS fitted_vocab
FROM logs CROSS JOIN fit
ORDER BY source
"""


def text_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources' term
    distributions — the symmetric, bounded (≤ ln 2) drift metric for
    comparing corpus snapshots or ingestion streams (PSI's analogue
    for text; KL alone blows up on vocabulary mismatch, JSD doesn't).
    JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q), summed over the
    UNION vocabulary with absent terms contributing p·ln(2) exactly —
    handled by the full-outer join's nulls, no smoothing constant to
    disagree on. Plan: token counts per (source, term) are the one
    data-sized shuffle; the per-pair join runs per TERM key (posting-
    list sized); |sources|² stays tiny because sources are a bounded
    dimension. Output ordered pairs s1 < s2."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(
                    F.trim(
                        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
                    ),
                    " ",
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    probs = counts.join(F.broadcast(totals), "source").select(
        "source", "tok", (F.col("c") / F.col("tot")).alias("p")
    )
    # union-vocab handling without an outer join on a composite key:
    # cross each source's term probabilities with the (bounded)
    # source list and LEFT-join the other side — terms present only
    # in s2 are covered by the mirrored (s2, s1) direction below.
    srcs = totals.select(F.col("source").alias("s2"))
    grid = (
        probs.select(F.col("source").alias("s1"), "tok", F.col("p").alias("pa"))
        .crossJoin(F.broadcast(srcs))
        .filter(F.col("s1") != F.col("s2"))
        .join(
            probs.select(
                F.col("source").alias("s2"), "tok", F.col("p").alias("pb")
            ),
            ["s2", "tok"],
            "left",
        )
    )
    # each directed (s1, s2) row covers terms present in s1; terms in
    # s2 only are covered by the mirrored (s2, s1) rows. KL terms:
    # p·ln(2p/(p+q)) with q=0 when absent. Summing both directions and
    # halving gives the symmetric JSD per unordered pair.
    term = F.col("pa") * F.log(
        F.lit(2.0) * F.col("pa") / (F.col("pa") + F.coalesce("pb", F.lit(0.0)))
    )
    directed = grid.groupBy("s1", "s2").agg(F.sum(term).alias("kl_half"))
    # |sources|²-bounded frame — broadcast the mirrored direction
    m = directed.alias("x").join(
        F.broadcast(
            directed.select(
                F.col("s1").alias("s2"), F.col("s2").alias("s1"),
                F.col("kl_half").alias("kl_rev"),
            )
        ),
        ["s1", "s2"],
    )
    return (
        m.filter(F.col("s1") < F.col("s2"))
        .select(
            "s1",
            "s2",
            fround(
                (F.col("kl_half") + F.col("kl_rev")) / 2.0, 6
            ).alias("jsd_nats"),
        )
        .orderBy("s1", "s2")
    )


ORACLE["text_jsd_drift"] = rf"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           x -> x <> '')) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
probs AS (
  SELECT source, tok,
         c / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE) AS p
  FROM counts
),
grid AS (
  SELECT a.source AS s1, s.source AS s2, a.tok, a.p AS pa, b.p AS pb
  FROM probs a
  CROSS JOIN (SELECT DISTINCT source FROM probs) s
  LEFT JOIN probs b ON b.source = s.source AND b.tok = a.tok
  WHERE a.source != s.source
),
directed AS (
  SELECT s1, s2,
         sum(pa * ln(2.0 * pa / (pa + coalesce(pb, 0.0)))) AS kl_half
  FROM grid GROUP BY 1, 2
)
SELECT x.s1, x.s2,
       {fround_sql("(x.kl_half + y.kl_half) / 2.0", 6)} AS jsd_nats
FROM directed x
JOIN directed y ON y.s1 = x.s2 AND y.s2 = x.s1
WHERE x.s1 < x.s2
ORDER BY x.s1, x.s2
"""


def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection by symbol statistics — the cheap
    pre-filter every pretraining pipeline runs before routing
    documents to code- or text-specific cleaning: brace/bracket
    density, semicolon density, assignment (=) density,
    underscore_identifier share, and down-weighted digit share,
    combined into a transparent linear score (no model, no Python —
    five regexp_count expressions in whole-stage codegen). Output
    per source: doc counts, share flagged as code,
    and mean feature values — the calibration table for threshold
    tuning. One scan, one bounded aggregation."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    L = F.length("text").cast("double")
    nz = F.greatest(L, F.lit(1.0))
    braces = F.regexp_count("text", F.lit(r"[{}\[\]()<>]")) / nz
    semis = F.regexp_count("text", F.lit(r";")) / nz
    assigns = F.regexp_count("text", F.lit(r"=")) / nz
    unders = F.regexp_count("text", F.lit(r"[A-Za-z0-9]_[A-Za-z0-9]")) / nz
    digits = F.regexp_count("text", F.lit(r"[0-9]")) / nz
    # digits weighted 0.5 so number-heavy prose alone (share < 10%)
    # cannot trip the flag; ';' and '=' are separate published features
    score = (
        F.lit(4.0) * braces
        + F.lit(3.0) * semis
        + F.lit(3.0) * assigns
        + F.lit(2.0) * unders
        + F.lit(0.5) * digits
    )
    feat = docs.filter(L > 0).select(
        "source",
        braces.alias("braces"),
        semis.alias("semis"),
        assigns.alias("assigns"),
        unders.alias("unders"),
        digits.alias("digits"),
        (score > 0.05).cast("int").alias("is_code"),
    )
    return (
        feat.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg("is_code"), 4).alias("code_share"),
            fround(F.avg("braces"), 6).alias("brace_density"),
            fround(F.avg("semis"), 6).alias("semi_density"),
            fround(F.avg("assigns"), 6).alias("assign_density"),
            fround(F.avg("unders"), 6).alias("underscore_density"),
            fround(F.avg("digits"), 6).alias("digit_density"),
        )
        .orderBy("source")
    )


ORACLE["text_code_detect"] = rf"""
WITH feat AS (
  SELECT source,
         len(regexp_extract_all(text, '[{{}}\[\]()<>]'))
           / greatest(length(text), 1.0) AS braces,
         len(regexp_extract_all(text, ';'))
           / greatest(length(text), 1.0) AS semis,
         len(regexp_extract_all(text, '='))
           / greatest(length(text), 1.0) AS assigns,
         len(regexp_extract_all(text, '[A-Za-z0-9]_[A-Za-z0-9]'))
           / greatest(length(text), 1.0) AS unders,
         len(regexp_extract_all(text, '[0-9]'))
           / greatest(length(text), 1.0) AS digits
  FROM documents WHERE length(text) > 0
)
SELECT source,
       count(*) AS n_docs,
       {fround_sql("avg(CASE WHEN 4.0 * braces + 3.0 * semis + 3.0 * assigns + 2.0 * unders + 0.5 * digits > 0.05 THEN 1 ELSE 0 END)", 4)} AS code_share,
       {fround_sql("avg(braces)", 6)} AS brace_density,
       {fround_sql("avg(semis)", 6)} AS semi_density,
       {fround_sql("avg(assigns)", 6)} AS assign_density,
       {fround_sql("avg(unders)", 6)} AS underscore_density,
       {fround_sql("avg(digits)", 6)} AS digit_density
FROM feat GROUP BY source ORDER BY source
"""


def text_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch–Kincaid grade level per document, rolled up per source —
    the oldest quality score still in every corpus pipeline:
    0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
    syllables approximated as vowel-group counts (the standard
    dictionary-free heuristic, identical regex both engines) and
    sentences as [.!?]+ runs (min 1). All JVM regexp/array expressions
    — no UDF; one scan plus a per-source rollup."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.filter(
        F.split(F.trim(F.regexp_replace(F.lower("text"), r"[^a-z']+", " ")), " "),
        lambda x: x != F.lit(""),
    )
    n_words = F.size(words).cast("double")
    # syllables(word) ≈ # maximal vowel groups; aggregate over words
    syl = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc
        + F.greatest(
            F.size(
                F.filter(
                    F.split(w, "[^aeiouy]+"), lambda x: x != F.lit("")
                )
            ),
            F.lit(1),
        ).cast("bigint"),
    ).cast("double")
    sents = F.greatest(
        F.size(
            F.filter(
                F.split("text", r"[.!?]+"),
                lambda x: F.trim(x) != F.lit(""),
            )
        ),
        F.lit(1),
    ).cast("double")
    per_doc = docs.filter(F.length("text") > 0).select(
        "source",
        n_words.alias("w"),
        syl.alias("s"),
        sents.alias("st"),
    ).filter(F.col("w") > 0)
    fk = (
        F.lit(0.39) * (F.col("w") / F.col("st"))
        + F.lit(11.8) * (F.col("s") / F.col("w"))
        - F.lit(15.59)
    )
    return (
        per_doc.select("source", fk.alias("fk"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg("fk"), 4).alias("mean_grade"),
            fround(F.min("fk"), 4).alias("min_grade"),
            fround(F.max("fk"), 4).alias("max_grade"),
        )
        .orderBy("source")
    )


ORACLE["text_readability_fk"] = rf"""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(
           string_split(trim(regexp_replace(lower(text), '[^a-z'']+', ' ', 'g')), ' '),
           x -> x <> '')) AS DOUBLE) AS w,
         CAST(list_sum(list_transform(
           list_filter(
             string_split(trim(regexp_replace(lower(text), '[^a-z'']+', ' ', 'g')), ' '),
             x -> x <> ''),
           wd -> greatest(len(list_filter(string_split_regex(wd, '[^aeiouy]+'),
                                          x -> x <> '')), 1))) AS DOUBLE) AS s,
         CAST(greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                       x -> trim(x) <> '')), 1) AS DOUBLE) AS st
  FROM documents WHERE length(text) > 0
),
fk AS (
  SELECT source, 0.39 * (w / st) + 11.8 * (s / w) - 15.59 AS fk
  FROM per_doc WHERE w > 0
)
SELECT source,
       count(*) AS n_docs,
       {fround_sql("avg(fk)", 4)} AS mean_grade,
       {fround_sql("min(fk)", 4)} AS min_grade,
       {fround_sql("max(fk)", 4)} AS max_grade
FROM fk GROUP BY source ORDER BY source
"""


BURST_MIN_DF = 20  # support filter: ignore terms in < this many docs
BURST_TOPK = 25


def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995): cf/df — mean occurrences
    per CONTAINING document. Function words spread evenly (ratio ≈ 1);
    content/topic words clump (ratio ≫ 1), which is why burstiness
    outranks raw frequency for keyword extraction and why LM
    perplexity filters mis-score bursty documents. Top-{BURST_TOPK}
    bursty terms with df ≥ {BURST_MIN_DF}: one (doc, term) aggregation
    (the same shuffle TF-IDF pays), then a term-keyed rollup — the
    ranking runs on the support-filtered vocab frame, and the top-k is
    TakeOrdered, no global sort materialization."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.trim(
                        F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
                    ),
                    " ",
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("term"),
    )
    per_doc = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("tf").alias("cf"),
        F.count(F.lit(1)).alias("df"),
        F.max("tf").alias("max_tf"),
    )
    return (
        stats.filter(F.col("df") >= BURST_MIN_DF)
        .select(
            "term",
            "cf",
            "df",
            "max_tf",
            fround(F.col("cf") / F.col("df"), 6).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "term")
        .limit(BURST_TOPK)
    )


ORACLE["text_term_burstiness"] = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           x -> x <> '')) AS term
  FROM documents
),
per_doc AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
),
stats AS (
  SELECT term, CAST(sum(tf) AS BIGINT) AS cf, count(*) AS df,
         CAST(max(tf) AS BIGINT) AS max_tf
  FROM per_doc GROUP BY 1
)
SELECT term, cf, df, max_tf,
       {fround_sql("cf / CAST(df AS DOUBLE)", 6)} AS burstiness
FROM stats WHERE df >= {BURST_MIN_DF}
ORDER BY burstiness DESC, term
LIMIT {BURST_TOPK}
"""


AUC_LABEL_LANG = "en"  # positives: the latin-script majority class


def features_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC via the Mann–Whitney U rank statistic —
    THE binary-classifier eval every quality/language/toxicity filter
    is judged by, computed exactly (tie-corrected average ranks), per
    source: score = alpha-character ratio, label = (lang =
    '{AUC_LABEL_LANG}'). AUC = (Σ_pos avgrank − n₊(n₊+1)/2)/(n₊·n₋);
    average ranks come from two RANGE windows (≤score count ascending,
    ≥score count descending) so ties get the textbook midrank — no
    sort-and-collect, no sklearn. Everything is exact integer-and-half
    arithmetic until the final division, so both engines agree
    bit-for-bit before the 1e-6 snap.

    Scale shape: one map pass for the score, three windows ALL
    partitioned by source (zero global sorts — the same discipline as
    ``table_xicor``), one hash aggregate; at 100 TB the only shuffled
    state is per-source ranked rows, and groups without both classes
    drop out (AUC undefined) in both engines."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_alpha = F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("bigint")
    base = docs.select(
        "source",
        (F.col("lang") == AUC_LABEL_LANG).cast("int").alias("y"),
        (n_alpha.cast("double") / F.greatest(F.length("text"), F.lit(1))).alias(
            "s"
        ),
    )
    return auc_by_group(base, "source", "s", "y")


def auc_by_group(
    df: DataFrame, group_col: str, score_col: str, label_col: str
) -> DataFrame:
    """Tie-corrected Mann–Whitney AUC per group over (group, score,
    binary label) — the reusable kernel behind
    ``features_auc_mannwhitney``."""
    from pyspark.sql import Window as W

    wle = (
        W.partitionBy(group_col)
        .orderBy(score_col)
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    wge = (
        W.partitionBy(group_col)
        .orderBy(F.col(score_col).desc())
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    wn = W.partitionBy(group_col)
    ranked = df.select(
        group_col,
        F.col(label_col).alias("y"),
        (
            (
                F.count(F.lit(1)).over(wle)
                + (F.count(F.lit(1)).over(wn) - F.count(F.lit(1)).over(wge))
                + F.lit(1)
            ).cast("double")
            / F.lit(2.0)
        ).alias("ar"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.sum("y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
        F.sum(F.when(F.col("y") == 1, F.col("ar"))).alias("rsum"),
    )
    auc = (
        F.col("rsum")
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1).cast("double") / F.lit(2.0)
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return (
        agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .select(
            group_col,
            "n_pos",
            "n_neg",
            fround(auc, 6).alias("auc"),
        )
        .orderBy(group_col)
    )


features_auc_mannwhitney.__doc__ = features_auc_mannwhitney.__doc__.format(
    AUC_LABEL_LANG=AUC_LABEL_LANG
)


ORACLE["features_auc_mannwhitney"] = f"""
WITH base AS (
  SELECT source,
         CASE WHEN lang = '{AUC_LABEL_LANG}' THEN 1 ELSE 0 END AS y,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS s
  FROM documents
),
ranked AS (
  SELECT source, y,
         (count(*) OVER (PARTITION BY source ORDER BY s
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          + (count(*) OVER (PARTITION BY source)
             - count(*) OVER (PARTITION BY source ORDER BY s DESC
                              RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW))
          + 1) / 2.0 AS ar
  FROM base
),
agg AS (
  SELECT source, sum(y) AS n_pos, sum(1 - y) AS n_neg,
         sum(CASE WHEN y = 1 THEN ar END) AS rsum
  FROM ranked GROUP BY 1
)
SELECT source, CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       {fround_sql(
           "(rsum - n_pos * 1.0 * (n_pos + 1) / 2.0)"
           " / (n_pos * 1.0 * n_neg)", 6
       )} AS auc
FROM agg WHERE n_pos > 0 AND n_neg > 0
ORDER BY source
"""


QUERIES = {
    "features_auc_mannwhitney": features_auc_mannwhitney,
    "text_charset_profile": text_charset_profile,
    "text_winnowing_fingerprints": text_winnowing_fingerprints,
    "text_term_burstiness": text_term_burstiness,
    "text_code_detect": text_code_detect,
    "text_readability_fk": text_readability_fk,
    "text_jsd_drift": text_jsd_drift,
    "text_heaps_law": text_heaps_law,
    "text_unigram_entropy": text_unigram_entropy,
    "text_kneser_ney_bigram": text_kneser_ney_bigram,
    "text_bigram_perplexity": text_bigram_perplexity,
    "text_lm_likelihood": text_lm_likelihood,
    "text_diversity": text_diversity,
    "bpe_pair_counts": bpe_pair_counts,
    "text_token_stats": text_token_stats,
    "text_bpe_tokens": text_bpe_tokens,
    "text_quality": text_quality,
    "text_lang_id": text_lang_id,
    "text_fingerprint": text_fingerprint,
    "text_gopher_quality": text_gopher_quality,
    "text_winnowing": text_winnowing,
    "bpe_train_merges": bpe_train_merges,
    "corpus_tokenizer_coverage": corpus_tokenizer_coverage,
    "text_rake_keyphrases": text_rake_keyphrases,
    "lang_id_confusion": lang_id_confusion,
    "text_pmi_collocations": text_pmi_collocations,
    "text_chi2_terms": text_chi2_terms,
    "text_zipf_fit": text_zipf_fit,
}
