"""Corpus-scale training-data operators: deterministic sampling,
TF-IDF term weighting, inverted-index construction.

The reference's only text operator is whitespace word count
(`mr_app/src/client.rs:3-21`); these are the corpus-preparation ops a
training-data pipeline layers on top (SURVEY.md §2c extension
surface). All three are pure DataFrame compositions — tokenization,
hashing, and scoring stay JVM-side in whole-stage codegen; nothing
touches Python row-at-a-time.

Scale notes:

* ``sample_hash_deterministic`` — content-hash bucketing instead of
  ``rand()``: reproducible across runs/retries/engines, no seed
  plumbing, and pushable (the md5 filter fuses into the scan; no
  shuffle at all). The sampling rule ``md5(key) < '2'`` keeps 2/16 of
  the keyspace (hex first-char uniform) at ANY scale.
* ``tfidf_top_terms`` — two hash aggregations (doc-term tf, term df)
  plus a windowed top-k; the df side is a per-term frame orders of
  magnitude smaller than the token stream, broadcast back. IDF uses
  the smoothed LINEAR variant (N+1)/(df+1): integer-valued doubles
  divide exactly the same in every IEEE-754 engine, so the ranking is
  bit-deterministic across Spark and DuckDB (log-based IDF is not
  correctly-rounded-guaranteed across libm implementations).
* ``inverted_index_postings`` — the classic MapReduce showcase job:
  distinct (term, doc) pairs → per-term sorted postings. One shuffle
  on term; postings truncated to the first 10 doc ids so the result
  stays driver-safe while the full list remains a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql, single_partition
from mapreduce_rust_spark.functions.text import (
    hash64,
    hash64_sql,
    normalize_sql,
    normalize_text,
    tokenize_whitespace,
)
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

# lowercase-alpha word tokenization, identical regex both engines
_TOKEN_SPLIT = "[^a-z]+"


def _doc_terms(docs: DataFrame) -> DataFrame:
    """(doc_id, term) token stream, lowercased alpha words."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), _TOKEN_SPLIT)).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def _doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, dl) token counts, row-wise: size(filter(split(...)))
    instead of explode + groupBy — identical counts with NO shuffle
    and one fewer corpus tokenization pass (guide §2.4). Docs with
    zero alpha tokens are filtered out, exactly as they produce no
    rows through ``_doc_terms``."""
    dl = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), _TOKEN_SPLIT), lambda t: t != ""
        )
    )
    return docs.select(
        "doc_id", dl.cast("bigint").alias("dl")
    ).filter(F.col("dl") > 0)


def _doc_terms_len(docs: DataFrame) -> DataFrame:
    """(doc_id, dl, term): the ``_doc_terms`` stream with each row
    carrying its document's token count. dl is functionally dependent
    on doc_id, so downstream per-(doc, term) aggregations can key on
    it directly — removing the separate ``_doc_lengths`` join on
    doc_id (one exchange + one corpus projection) from BM25-style
    scorers (guide §2.4). Emitted rows always have dl > 0 (explode of
    an empty token array yields no rows), matching ``_doc_lengths``'s
    filter."""
    toks = F.filter(
        F.split(F.lower(F.col("text")), _TOKEN_SPLIT), lambda t: t != ""
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        F.explode(toks).alias("term"),
    )


_DOC_TERMS_SQL = """
  SELECT doc_id, term
  FROM documents,
       unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                          x -> x <> '')) AS u(term)
"""


def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~12.5% document sample by content-hash bucket."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.md5(F.col("doc_id").cast("string")) < "2")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


ORACLE["sample_hash_deterministic"] = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE md5(CAST(doc_id AS VARCHAR)) < '2'
ORDER BY doc_id
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed-linear
    TF-IDF."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tf = _doc_terms(docs).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (F.col("n_docs") + F.lit(1.0))
            / (F.col("df") + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("rank").cast("bigint").alias("rank"),
            fround("score", 4).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


ORACLE["tfidf_top_terms"] = f"""
WITH tok AS ({_DOC_TERMS_SQL}),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term,
         tf * (n_docs + 1.0) / (df + 1.0) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf * (n_docs + 1.0) / (df + 1.0) DESC,
                                     term) AS rank
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, CAST(rank AS BIGINT) AS rank,
       {fround_sql("score", 4)} AS tfidf
FROM scored WHERE rank <= 3
ORDER BY doc_id, rank
"""


def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term postings (first 10 doc ids) for the 100 most-frequent
    terms appearing in at least 5 documents.

    Scale shape: the postings cap is applied BEFORE any list is
    materialized — a row_number window keeps ≤10 rows per term, and
    only those are collected. A collect-then-slice plan would hold a
    stop-word's full posting list (potentially billions of ids at
    100 TB) in one aggregation buffer; this plan's per-term state is
    bounded at 10 everywhere. The df count and the capped collect
    share one term-partitioned shuffle (window and groupBy reuse the
    same partitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _doc_terms(docs).distinct()
    wt = Window.partitionBy("term").orderBy("doc_id")
    df_counts = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top10 = (
        pairs.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 10)
        .groupBy("term")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("postings"))
    )
    return (
        df_counts.filter(F.col("df") >= 5)
        .join(top10, "term")
        .select("term", "df", "postings")
        .orderBy(F.col("df").desc(), "term")
        .limit(100)
    )


ORACLE["inverted_index_postings"] = f"""
WITH tok AS ({_DOC_TERMS_SQL}),
pairs AS (SELECT DISTINCT doc_id, term FROM tok)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 10), ',') AS postings
FROM pairs
GROUP BY term
HAVING count(*) >= 5
ORDER BY df DESC, term
LIMIT 100
"""


PREFIX_MIN = 2  # shortest indexed prefix
PREFIX_MAX = 5  # longest indexed prefix
PREFIX_TOPK = 3  # completions kept per prefix


def search_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocomplete (prefix → top-k completion) index over the corpus
    vocabulary — the OTHER search-index access pattern next to
    ``inverted_index_postings``' term → docs: for every
    {PREFIX_MIN}..{PREFIX_MAX}-char prefix, the {PREFIX_TOPK} most
    frequent completing terms with their corpus frequencies. Built
    the scalable way round: term frequencies FIRST (one corpus
    shuffle collapses the token stream to vocabulary size), THEN the
    ≤{PREFIX_MAX}-way prefix explode runs on the VOCABULARY — at
    100 TB the explode factor applies to |vocab| rows, never to the
    trillion-token stream; the per-prefix top-k is a bounded
    row_number window on (prefix)-partitioned vocab. Ties rank by
    (freq DESC, term ASC): total order, identical in both engines.
    Output: the 100 highest-volume prefixes with their completion
    lists — the index slice a serving layer would ship."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    vocab = (
        _doc_terms(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.length("term") >= PREFIX_MIN)
    )
    pref = vocab.select(
        "term",
        "tf",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(PREFIX_MIN),
                    F.least(F.length("term"), F.lit(PREFIX_MAX)),
                ),
                lambda n: F.substring(F.col("term"), 1, n),
            )
        ).alias("prefix"),
    )
    wp = Window.partitionBy("prefix").orderBy(F.desc("tf"), "term")
    topk = (
        pref.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= PREFIX_TOPK)
        .groupBy("prefix")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "term"))
                    ),
                    lambda s: s["term"],
                ),
            ).alias("completions"),
        )
    )
    vol = pref.groupBy("prefix").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("tf").alias("total_freq"),
    )
    return (
        vol.join(topk, "prefix")
        .select("prefix", "n_terms", "total_freq", "completions")
        .orderBy(F.desc("total_freq"), "prefix")
        .limit(100)
    )


ORACLE["search_prefix_topk"] = f"""
WITH tok AS ({_DOC_TERMS_SQL}),
vocab AS (
  SELECT term, count(*) AS tf FROM tok
  GROUP BY 1 HAVING length(term) >= {PREFIX_MIN}
),
pref AS (
  SELECT term, tf, substr(term, 1, n) AS prefix
  FROM vocab,
       unnest(range({PREFIX_MIN},
                    least(length(term), {PREFIX_MAX}) + 1)) AS u(n)
),
ranked AS (
  SELECT prefix, term, tf,
         row_number() OVER (PARTITION BY prefix
                            ORDER BY tf DESC, term) AS rn
  FROM pref
),
topk AS (
  SELECT prefix,
         array_to_string(list(term ORDER BY rn), ',') AS completions
  FROM ranked WHERE rn <= {PREFIX_TOPK} GROUP BY prefix
),
vol AS (
  SELECT prefix, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(tf) AS BIGINT) AS total_freq
  FROM pref GROUP BY prefix
)
SELECT vol.prefix, vol.n_terms, vol.total_freq, topk.completions
FROM vol JOIN topk ON topk.prefix = vol.prefix
ORDER BY vol.total_freq DESC, vol.prefix
LIMIT 100
"""


MIX_BUDGET_FRAC = 0.97  # token budget as a share of total corpus chars


def corpus_mix_water_filling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-aware training-mix solver (water-filling): a target
    mix says "give every source an equal share of the token budget",
    but short sources can't fill their quota — naive per-source rates
    silently under-deliver the budget. The classic water-filling
    allocation saturates short sources at capacity and redistributes
    their unmet share across the rest, in the single closed form the
    sort admits: order sources by capacity/weight ascending, then a
    source is saturated iff its ratio ≤ (remaining budget)/(remaining
    weight) computed over the EXCLUSIVE prefix — the saturated set is
    always a prefix of that order, so two banded prefix sums replace
    the sequential redistribute loop (the pin test replays the
    textbook sequential algorithm and asserts equality). Scale shape:
    one map-side char aggregation to |sources| rows, then
    ``single_partition`` window arithmetic on that provably-bounded
    frame. This is the solver that turns ``sample_temperature``-style
    target mixes into FEASIBLE per-source sampling rates."""
    docs = load_table(spark, sf_dir, "documents")
    caps = docs.groupBy("source").agg(
        F.sum("n_chars").alias("cap"), F.count(F.lit(1)).alias("n_docs")
    )
    tot = caps.agg(
        F.sum("cap").alias("total_cap"),
        F.count(F.lit(1)).alias("k"),
    )
    base = caps.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "cap",
        (F.lit(1.0) / F.col("k")).alias("w"),
        (F.col("total_cap") * MIX_BUDGET_FRAC).alias("budget"),
    )
    b1, wspec = single_partition(
        base, by=[F.col("cap") / F.col("w"), "source"]
    )
    w_prev = wspec.rowsBetween(Window.unboundedPreceding, -1)
    w_all = wspec.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flagged = (
        b1.withColumn(
            "cum_cap_prev", F.coalesce(F.sum("cap").over(w_prev), F.lit(0.0))
        )
        .withColumn(
            "cum_w_prev", F.coalesce(F.sum("w").over(w_prev), F.lit(0.0))
        )
        .withColumn(
            "saturated",
            F.col("cap") / F.col("w")
            <= (F.col("budget") - F.col("cum_cap_prev"))
            / (F.lit(1.0) - F.col("cum_w_prev")),
        )
    )
    solved = (
        flagged.withColumn(
            "sat_cap",
            F.sum(F.when(F.col("saturated"), F.col("cap")).otherwise(0.0)).over(
                w_all
            ),
        )
        .withColumn(
            "sat_w",
            F.sum(F.when(F.col("saturated"), F.col("w")).otherwise(0.0)).over(
                w_all
            ),
        )
        .withColumn(
            "alloc",
            F.when(F.col("saturated"), F.col("cap").cast("double")).otherwise(
                F.col("w")
                * (F.col("budget") - F.col("sat_cap"))
                / (F.lit(1.0) - F.col("sat_w"))
            ),
        )
    )
    return solved.select(
        "source",
        "n_docs",
        F.col("cap").alias("capacity_chars"),
        fround("w", 6).alias("target_share"),
        fround("alloc", 2).alias("allocated_chars"),
        fround(F.col("alloc") / F.col("cap"), 6).alias("fill_rate"),
        "saturated",
    ).orderBy("source")


ORACLE["corpus_mix_water_filling"] = f"""
WITH caps AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS cap,
         count(*) AS n_docs
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(cap) * {MIX_BUDGET_FRAC} AS budget,
               count(*) AS k FROM caps),
base AS (
  SELECT source, n_docs, cap, 1.0 / tot.k AS w, tot.budget AS budget
  FROM caps, tot
),
flagged AS (
  SELECT *,
         coalesce(sum(cap) OVER (ORDER BY cap / w, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS cum_cap_prev,
         coalesce(sum(w) OVER (ORDER BY cap / w, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
           AS cum_w_prev
  FROM base
),
sat AS (
  SELECT *,
         cap / w <= (budget - cum_cap_prev) / (1.0 - cum_w_prev)
           AS saturated
  FROM flagged
),
solved AS (
  SELECT *,
         sum(CASE WHEN saturated THEN cap ELSE 0.0 END) OVER () AS sat_cap,
         sum(CASE WHEN saturated THEN w ELSE 0.0 END) OVER () AS sat_w
  FROM sat
)
SELECT source, n_docs, cap AS capacity_chars,
       {fround_sql("w", 6)} AS target_share,
       {fround_sql(
           "CASE WHEN saturated THEN cap * 1.0"
           " ELSE w * (budget - sat_cap) / (1.0 - sat_w) END", 2)}
         AS allocated_chars,
       {fround_sql(
           "CASE WHEN saturated THEN cap * 1.0"
           " ELSE w * (budget - sat_cap) / (1.0 - sat_w) END / cap", 6)}
         AS fill_rate,
       saturated
FROM solved ORDER BY source
"""


def pack_shards(
    df: DataFrame, part_col: str, order_col: str, size_col: str, budget: int
) -> DataFrame:
    """Greedy in-order shard packing: within each ``part_col`` group,
    walk rows in ``order_col`` order accumulating ``size_col``; a row
    starts shard ``floor(preceding_total / budget)``. The
    write-a-corpus-as-~equal-shards primitive (training shards, tar
    archives, upload chunks).

    Deterministic pure-integer math, one window shuffle partitioned by
    ``part_col`` — at 100 TB the partition column (source/domain/date)
    keeps each window sized to one group, never the whole corpus."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return df.withColumn("shard_id", F.floor(run / F.lit(budget)))


def corpus_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest for the documents corpus: per (source, shard)
    doc count, char volume, and id range, 2000-char budget."""
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_shards(docs, "source", "doc_id", "n_chars", 2000)
    return (
        packed.groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard_id")
    )


ORACLE["corpus_shard_pack"] = """
WITH packed AS (
  SELECT source, doc_id, n_chars,
         CAST(floor(coalesce(sum(n_chars) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)
           AS BIGINT) AS shard_id
  FROM documents
)
SELECT source, shard_id, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed
GROUP BY 1, 2
ORDER BY 1, 2
"""


def stratified_hash_sample(
    df: DataFrame, id_col: str, stratum_col: str, rates: dict[str, float],
    default_rate: float,
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    fraction of rows, chosen by content-hash threshold (md5 hex
    prefix), not rand() — reproducible across runs, retries, and
    engines, and the filter pushes into the scan. The rebalance-the-
    language/domain-mix primitive of corpus curation. Rates are
    rounded to hex-prefix granularity (x/16)."""
    thresholds = {k: format(int(v * 16), "x") for k, v in rates.items()}
    thr = F.lit(format(int(default_rate * 16), "x"))
    for k, t in thresholds.items():
        thr = F.when(F.col(stratum_col) == k, F.lit(t)).otherwise(thr)
    return df.filter(F.md5(F.col(id_col).cast("string")) < thr)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalanced corpus sample: English down-weighted to 25%, other
    languages kept at 50% — per-language kept/total counts."""
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.25}, 0.5)
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(totals, "lang")
        .orderBy("lang")
    )


ORACLE["sample_stratified"] = """
WITH kept AS (
  SELECT lang FROM documents
  WHERE md5(CAST(doc_id AS VARCHAR)) <
        CASE WHEN lang = 'en' THEN '4' ELSE '8' END
),
totals AS (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1)
SELECT k.lang, count(*) AS n_kept, any_value(n_total) AS n_total
FROM kept k JOIN totals USING (lang)
GROUP BY k.lang
ORDER BY k.lang
"""


NEYMAN_BUDGET = 2000  # total eval-sample budget (docs)


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sample ALLOCATION (the survey-
    sampling classic): given a fixed eval budget of {b} docs, how many
    to draw per source so the stratified mean of document length has
    minimum variance — n_h ∝ N_h * S_h (stratum size x stratum
    std-dev), versus the proportional allocation n_h ∝ N_h that
    ``sample_stratified`` implements. High-variance sources earn more
    than their share; near-constant ones less — the difference column
    is the efficiency the design buys. Plan: ONE partial-aggregating
    pass to per-source (count, stddev), a broadcast 1-row normalizer,
    floor rounding (identical in both engines) for integer
    allocations. At 100 TB the allocation itself is |sources|-sized —
    the report that PRECEDES the sampling job."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.stddev_samp(F.col("n_chars").cast("double")).alias("sd"),
    )
    tot = per.agg(
        F.sum(F.col("n_total") * F.col("sd")).alias("z"),
        F.sum("n_total").alias("n"),
    )
    j = per.crossJoin(F.broadcast(tot))
    ney = F.floor(
        F.lit(NEYMAN_BUDGET) * (F.col("n_total") * F.col("sd")) / F.col("z")
    ).cast("bigint")
    prop = F.floor(
        F.lit(NEYMAN_BUDGET) * F.col("n_total") / F.col("n").cast("double")
    ).cast("bigint")
    return j.select(
        "source",
        F.col("n_total").cast("bigint").alias("n_total"),
        fround("sd", 4).alias("sd_len"),
        ney.alias("alloc_neyman"),
        prop.alias("alloc_proportional"),
        (ney - prop).alias("alloc_shift"),
    ).orderBy("source")


sample_neyman_allocation.__doc__ = sample_neyman_allocation.__doc__.format(
    b=NEYMAN_BUDGET
)


ORACLE["sample_neyman_allocation"] = f"""
WITH per AS (
  SELECT source, count(*) AS n_total,
         stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_total * sd) AS z, sum(n_total) AS n FROM per)
SELECT source,
       CAST(n_total AS BIGINT) AS n_total,
       {fround_sql("sd", 4)} AS sd_len,
       CAST(floor({NEYMAN_BUDGET} * (n_total * sd) / tot.z) AS BIGINT)
         AS alloc_neyman,
       CAST(floor({NEYMAN_BUDGET} * n_total / CAST(tot.n AS DOUBLE)) AS BIGINT)
         AS alloc_proportional,
       CAST(floor({NEYMAN_BUDGET} * (n_total * sd) / tot.z) AS BIGINT)
         - CAST(floor({NEYMAN_BUDGET} * n_total / CAST(tot.n AS DOUBLE)) AS BIGINT)
         AS alloc_shift
FROM per CROSS JOIN tot
ORDER BY source
"""


def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalancing report: per source, its share of the
    corpus (by characters) and the resampling weight that would bring
    the mix to uniform — the number a data-loader multiplies each
    source's sampling probability by. Two tiny aggregations (per-source
    totals, then a broadcast of the one-row grand total); the fact
    table is scanned once and only (source, n_chars) survive the scan.

    Weights use exact integer character counts divided as doubles, so
    both engines compute bit-identical ratios; fround guards the
    division results."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("src_chars"),
    )
    total = per_src.agg(
        F.sum("src_chars").alias("all_chars"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_src.join(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            F.col("src_chars").cast("bigint").alias("src_chars"),
            fround(
                F.col("src_chars").cast("double") / F.col("all_chars").cast("double"),
                6,
            ).alias("share"),
            fround(
                (F.col("all_chars").cast("double") / F.col("n_sources").cast("double"))
                / F.col("src_chars").cast("double"),
                6,
            ).alias("uniform_weight"),
        )
        .orderBy("source")
    )


ORACLE["source_mix_weights"] = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS src_chars
  FROM documents GROUP BY 1
),
total AS (
  SELECT CAST(sum(src_chars) AS BIGINT) AS all_chars,
         count(*) AS n_sources
  FROM per_src
)
SELECT source, n_docs, src_chars,
       {fround_sql("CAST(src_chars AS DOUBLE) / CAST(all_chars AS DOUBLE)", 6)} AS share,
       {fround_sql("(CAST(all_chars AS DOUBLE) / CAST(n_sources AS DOUBLE)) / CAST(src_chars AS DOUBLE)", 6)} AS uniform_weight
FROM per_src CROSS JOIN total
ORDER BY source
"""




def budget_select_per_source(
    df: DataFrame,
    part_col: str,
    order_col: str,
    size_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Data selection under a token budget: within each ``part_col``
    group, take rows in descending ``order_col`` (quality) order until
    the running ``size_col`` total passes ``budget`` — the
    highest-quality-docs-that-fit curation rule. A per-group window
    cumsum (no global sort; each source sorts independently), then a
    filter on the PRECEDING total so the row that crosses the budget
    line is still kept (budget is a floor target, not a hard cap).
    Ties on ``order_col`` break deterministically on ``id_col``."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(part_col)
        .orderBy(F.col(order_col).desc(), id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    run = F.coalesce(F.sum(size_col).over(w), F.lit(0))
    return df.withColumn("_run", run).filter(F.col("_run") < budget).drop("_run")


def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source selection report: top-quality docs until 5000 chars
    per source — (source, n_kept, chars_kept, min quality kept)."""
    from mapreduce_rust_spark.operators.text_analysis import _quality_exprs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # quality is a pure per-row expression: fuse it into the scan
    # instead of joining a separate frame back on doc_id (guide §2.4);
    # the quality frame's n_chars>0 row filter is applied explicitly
    qe = _quality_exprs("text")
    scored = docs.filter(qe["_n_chars"] > 0).select(
        "doc_id", "source", "n_chars", qe["quality_score"].alias("quality_score")
    )
    kept = budget_select_per_source(scored, "source", "quality_score", "n_chars", 5000)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
            fround(F.min("quality_score"), 4).alias("min_quality_kept"),
        )
        .orderBy("source")
    )


def _budget_select_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql

    return f"""
WITH q AS ({_quality_sql()}),
scored AS (
  SELECT d.doc_id, d.source, d.n_chars, q.quality_score
  FROM documents d JOIN q USING (doc_id)
),
runs AS (
  SELECT *, coalesce(sum(n_chars) OVER (
      PARTITION BY source ORDER BY quality_score DESC, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS run
  FROM scored
)
SELECT source, count(*) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS chars_kept,
       {fround_sql("min(quality_score)", 4)} AS min_quality_kept
FROM runs WHERE run < 5000
GROUP BY source ORDER BY source
"""


def assign_splits(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash: the
    md5 hex first character buckets ids into 16 slices — 14 train,
    1 val, 1 test (87.5/6.25/6.25). Reproducible across runs, engines,
    and retries; pure scan-stage expression, no shuffle."""
    h = F.substring(F.md5(F.col(id_col).cast("string")), 1, 1)
    return df.withColumn(
        "split",
        F.when(h == "e", F.lit("val"))
        .when(h == "f", F.lit("test"))
        .otherwise(F.lit("train")),
    )


def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split census: (source, split, n_docs, total chars) — the
    deterministic held-out split every training corpus needs."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_splits(docs, "doc_id")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


ORACLE["corpus_budget_select"] = _budget_select_oracle()

ORACLE["corpus_split_assign"] = """
SELECT source,
       CASE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         WHEN 'e' THEN 'val' WHEN 'f' THEN 'test' ELSE 'train'
       END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
ORDER BY 1, 2
"""


SEQ_LEN = 256  # context-window length (tokens) for pack_sequences


def pack_sequences(
    df: DataFrame, part_col: str, order_col: str, text_col: str,
    seq_len: int = SEQ_LEN,
) -> DataFrame:
    """Concat-and-chunk sequence packing — THE pretraining batcher:
    within each ``part_col`` stream, documents are conceptually
    concatenated in ``order_col`` order and cut into fixed
    ``seq_len``-token context windows; a document may SPAN windows.
    Emits each doc's token offset and first/last window index.

    Unlike :func:`pack_shards` (greedy whole-doc bins), this is
    token-granular: ``n_chunks > 1`` means the doc crosses a window
    boundary (the fragmentation the packing report aggregates).
    Pure window arithmetic over an exclusive running token sum — one
    shuffle partitioned by the stream column, so at 100 TB each
    window covers one source/shard stream, never the whole corpus."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    start = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (
        df.withColumn("n_tok", n_tok)
        .withColumn("start_tok", start)
        .select(
            part_col,
            order_col,
            "n_tok",
            "start_tok",
            F.floor(F.col("start_tok") / seq_len).alias("first_seq"),
            F.floor(
                (F.col("start_tok") + F.greatest(F.col("n_tok") - 1, F.lit(0)))
                / seq_len
            ).alias("last_seq"),
        )
    )


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing report per source stream: docs, tokens, context windows
    consumed, and how many docs cross a window boundary (the
    fragmentation metric that decides seq_len vs doc-length fit)."""
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs, "source", "doc_id", "text", SEQ_LEN)
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            (F.max("last_seq") + 1).cast("bigint").alias("n_sequences"),
            F.sum(
                (F.col("last_seq") > F.col("first_seq")).cast("int")
            ).cast("bigint").alias("n_crossing"),
        )
        .orderBy("source")
    )


ORACLE["corpus_pack_sequences"] = f"""
WITH toks AS (
  SELECT source, doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tok,
         coalesce(sum(n_tok) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM toks
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(max((start_tok + greatest(n_tok - 1, 0)) // {SEQ_LEN}) + 1 AS BIGINT)
         AS n_sequences,
       CAST(sum(CASE WHEN (start_tok + greatest(n_tok - 1, 0)) // {SEQ_LEN}
                          > start_tok // {SEQ_LEN} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_crossing
FROM packed
GROUP BY source
ORDER BY source
"""


N_ORDER_BUCKETS = 16  # hex-prefix buckets for the two-phase global rank


def distributed_row_number(
    df: DataFrame, key_col, n_buckets: int = N_ORDER_BUCKETS
) -> DataFrame:
    """Global row_number over ``key_col`` WITHOUT a single-partition
    window — the scalable form of a global sort rank. Two phases:
    (1) bucket rows by key prefix range (here: first hex char of the
    key, which orders identically to the key itself), count per
    bucket, and turn the tiny per-bucket counts into exclusive
    offsets on the driver; (2) rank within each bucket in parallel
    and add the broadcast offset. A naive ``row_number() OVER
    (ORDER BY key)`` funnels 100 TB through ONE task; this plan's
    widest window is one bucket (~1/n_buckets of the data) and the
    offset table is n_buckets rows."""
    keyed = df.withColumn("_ok", key_col).withColumn(
        "_bucket", F.substring("_ok", 1, 1)
    )
    counts = {
        r["_bucket"]: r["n"]
        for r in keyed.groupBy("_bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(b, o) for b, o in offsets.items()], "_bucket string, _off long"
        )
    )
    w = Window.partitionBy("_bucket").orderBy("_ok")
    return (
        keyed.join(off_df, "_bucket")
        .withColumn("pos", (F.col("_off") + F.row_number().over(w)).cast("bigint"))
        .drop("_bucket", "_off")
    )


def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: global position of every
    document under a seeded content-hash ordering (reproducible across
    runs and engines — no rand()), computed with the two-phase
    distributed rank so no single task ever sees the whole corpus.
    The order key md5(seed:doc_id) interleaves sources uniformly —
    the epoch-shuffle primitive of a pretraining data loader."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("epoch0:"), F.col("doc_id").cast("string")))
    return (
        distributed_row_number(docs, key)
        .select("pos", "doc_id", "source", "_ok")
        .withColumnRenamed("_ok", "order_key")
        .orderBy("pos")
    )


def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling for corpus construction: each document is
    kept with probability equal to its (clamped) quality score, so the
    sampled corpus is quality-tilted WITHOUT a global sort or a
    per-source quota pass. The coin flip is the deterministic
    content-hash fraction (md5 of the id scaled to [0,1)) compared
    against the score — reproducible across runs, retries, and
    engines, exactly like ``sample_hash_deterministic``; a 100 TB run
    is one scan with a fused filter. Output is the per-source census:
    total docs, kept docs, mean quality (≈ expected keep rate), and
    the realized keep ratio."""
    from mapreduce_rust_spark.operators.text_analysis import _quality_exprs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # per-row gate fused into the scan, no doc_id self-join (guide
    # §2.4); quality's n_chars>0 row filter applied explicitly
    qe = _quality_exprs("text")
    frac = (hash64(F.col("doc_id").cast("string")) % 1048576) / 1048576.0
    w = F.least(F.greatest(F.col("quality_score"), F.lit(0.0)), F.lit(1.0))
    labeled = (
        docs.filter(qe["_n_chars"] > 0)
        .select("source", "doc_id", qe["quality_score"].alias("quality_score"))
        .select("source", (frac < w).cast("bigint").alias("kept"), "quality_score")
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            fround(F.avg("quality_score"), 4).alias("avg_quality"),
            fround(F.sum("kept") / F.count(F.lit(1)), 4).alias("kept_ratio"),
        )
        .orderBy("source")
    )


def _quality_weighted_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql

    return f"""
WITH q AS ({_quality_sql()}),
labeled AS (
  SELECT d.source,
         CASE WHEN {hash64_sql('CAST(d.doc_id AS VARCHAR)')}
                   % 1048576 / 1048576.0
                < least(greatest(q.quality_score, 0), 1)
              THEN 1 ELSE 0 END AS kept,
         q.quality_score
  FROM documents d JOIN q USING (doc_id)
)
SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
       {fround_sql("avg(quality_score)", 4)} AS avg_quality,
       {fround_sql("sum(kept)::DOUBLE / count(*)", 4)} AS kept_ratio
FROM labeled
GROUP BY 1 ORDER BY 1
"""


ORACLE["sample_quality_weighted"] = _quality_weighted_oracle()


def corpus_quality_calibrated_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE quality calibration: keep each source's top half by
    WITHIN-SOURCE percent-rank of the quality score, not by a global
    threshold — the fix for score-scale drift across crawls/dumps (a
    global cutoff silently drops entire sources whose scorer runs
    cold and keeps all of an inflated one; rank-normalizing first
    makes the gate mean the same thing everywhere — the per-dump
    thresholding pattern of modern web-corpus pipelines). Census per
    source: docs, kept, mean quality overall vs kept. At 100 TB the
    window becomes a two-pass: per-source score HISTOGRAMS
    (partial-aggregatable) pick each source's cut point, then one
    fused-filter scan applies it — same semantics, no per-source
    sort; at test scale the direct window states the contract."""
    from mapreduce_rust_spark.operators.text_analysis import _quality_exprs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # per-row gate fused into the scan, no doc_id self-join (guide
    # §2.4); quality's n_chars>0 row filter applied explicitly
    qe = _quality_exprs("text")
    d = docs.filter(qe["_n_chars"] > 0).select(
        "doc_id", "source", qe["quality_score"].alias("quality_score")
    )
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    labeled = d.withColumn(
        "kept", (F.percent_rank().over(w) >= 0.5).cast("bigint")
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            fround(F.avg("quality_score"), 4).alias("avg_quality_all"),
            fround(
                F.avg(F.when(F.col("kept") == 1, F.col("quality_score"))), 4
            ).alias("avg_quality_kept"),
        )
        .orderBy("source")
    )


def _quality_calibrated_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql

    return f"""
WITH q AS ({_quality_sql()}),
labeled AS (
  SELECT d.source, q.quality_score,
         CASE WHEN percent_rank() OVER (
                PARTITION BY d.source
                ORDER BY q.quality_score, d.doc_id) >= 0.5
              THEN 1 ELSE 0 END AS kept
  FROM documents d JOIN q USING (doc_id)
)
SELECT source, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
       {fround_sql("avg(quality_score)", 4)} AS avg_quality_all,
       {fround_sql("avg(CASE WHEN kept = 1 THEN quality_score END)", 4)}
         AS avg_quality_kept
FROM labeled
GROUP BY 1 ORDER BY 1
"""


ORACLE["corpus_quality_calibrated_filter"] = _quality_calibrated_oracle()


CHUNK_SIZE = 64
CHUNK_STRIDE = 48
CHUNK_MIN_TAIL = 16


def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token CHUNKING (size {size}, stride {stride}) — the
    retrieval/RAG indexing primitive: every doc explodes into
    fixed-budget windows with {ov}-token overlap so no boundary
    sentence is lost to a hard cut; tails shorter than {tail} tokens
    fold into the previous chunk's overlap (a lone first chunk is
    always kept). Entirely per-row higher-order-function work — the
    chunk list derives from one sequence()/filter()/slice() chain
    fused into the scan, so cost is input bytes and the explode's
    output volume, with zero extra shuffles before the census.
    Census: per chunks-per-doc stratum, how many docs, how many
    chunks, and how many DISTINCT chunk texts — the dedup-ability
    preview (overlap windows from templated docs collapse hard)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)),
        lambda s: (s == 0) | (n - s >= CHUNK_MIN_TAIL),
    )
    # n_chunks = size(starts) rides along BEFORE the explode, so the
    # tokenize→starts→slice chain runs ONCE (a join-back against a
    # per-doc count re-evaluated the whole chain on both branches —
    # measured 5.1 s → ~2 s at sf0.1)
    chunked = (
        docs.filter(n > 0)
        .select(
            "doc_id",
            F.size(starts).alias("n_chunks"),
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.concat_ws(
                        " ", F.slice(toks, s + 1, CHUNK_SIZE)
                    ),
                )
            ).alias("chunk"),
        )
    )
    return (
        chunked.groupBy("n_chunks")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("total_chunks"),
            F.countDistinct(F.md5("chunk")).alias("distinct_chunks"),
        )
        .orderBy("n_chunks")
    )


corpus_chunk_overlap.__doc__ = corpus_chunk_overlap.__doc__.format(
    size=CHUNK_SIZE,
    stride=CHUNK_STRIDE,
    ov=CHUNK_SIZE - CHUNK_STRIDE,
    tail=CHUNK_MIN_TAIL,
)


ORACLE["corpus_chunk_overlap"] = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents
),
chunks AS (
  SELECT doc_id,
         array_to_string(l[s + 1: s + {CHUNK_SIZE}], ' ') AS chunk
  FROM d,
       unnest(list_filter(range(0, len(l), {CHUNK_STRIDE}),
                          s -> s = 0 OR len(l) - s >= {CHUNK_MIN_TAIL})) AS u(s)
  WHERE len(l) > 0
),
per_doc AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1)
SELECT p.n_chunks,
       CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_docs,
       count(*) AS total_chunks,
       CAST(count(DISTINCT md5(c.chunk)) AS BIGINT) AS distinct_chunks
FROM chunks c JOIN per_doc p USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length distribution report — the input to every
    truncation / context-window / packing decision: docs and token
    volume per 25-token bin, plus the cumulative share of ALL tokens
    living in documents at or above each bin (read it as "cutting at
    this length discards X% of the corpus"). Token counting is a pure
    per-row array expression fused into the scan; the histogram
    aggregation has a key space of |corpus max length / 25| rows, so
    the cumulative window runs over a frame that stays tiny at any
    corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: t != "")
    ).cast("bigint")
    hist = (
        docs.select((n_tokens - n_tokens % 25).alias("bin_lo"), n_tokens.alias("n"))
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
        )
    )
    # The cumulative-share pass runs over the ≤|max_len/25|-row bin
    # table, so instead of two partitionless windows (which emit
    # WindowExec "No Partition Defined" warnings and a single-partition
    # sort exchange) we collapse the bins into ONE array row and
    # compute the grand total + descending prefix sums as pure array
    # expressions — no window, no extra shuffle, same values.
    tok = lambda a, x: a + x["total_tokens"]  # noqa: E731
    zero = F.lit(0).cast("bigint")
    packed = hist.agg(
        F.sort_array(
            F.collect_list(F.struct("bin_lo", "n_docs", "total_tokens")),
            asc=False,
        ).alias("bins")
    ).select("bins", F.aggregate("bins", zero, tok).alias("grand_total"))
    return (
        packed.select(
            "bins",
            "grand_total",
            F.posexplode("bins").alias("pos", "b"),
        )
        .select(
            F.col("b.bin_lo").alias("bin_lo"),
            F.col("b.n_docs").alias("n_docs"),
            F.col("b.total_tokens").alias("total_tokens"),
            fround(
                F.aggregate(
                    F.slice("bins", F.lit(1), F.col("pos") + 1), zero, tok
                ).cast("double")
                / F.col("grand_total").cast("double"),
                6,
            ).alias("cum_token_share_ge"),
        )
        .orderBy("bin_lo")
    )


ORACLE["corpus_length_histogram"] = f"""
WITH lens AS (
  SELECT len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n
  FROM documents
),
hist AS (
  SELECT n - n % 25 AS bin_lo, count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens
  FROM lens GROUP BY 1
)
SELECT bin_lo, n_docs, total_tokens,
       {fround_sql(
           "sum(total_tokens) OVER (ORDER BY bin_lo DESC ROWS BETWEEN "
           "UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE / "
           "sum(total_tokens) OVER ()",
           6,
       )} AS cum_token_share_ge
FROM hist
ORDER BY bin_lo
"""


ORACLE["corpus_shuffle_order"] = """
SELECT row_number() OVER (ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)))
         AS pos,
       doc_id, source,
       md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS order_key
FROM documents
ORDER BY pos
"""


SAMPLE_TEMP_T = 2.0  # temperature; 1/T = 0.5 → sqrt scaling


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling (the mT5/multilingual-mix
    recipe, Xue et al. 2021): source sampling probability ∝
    n_docs^(1/T), renormalized — T > 1 flattens the mix, upweighting
    tail sources without going all the way to uniform (which
    ``source_mix_weights`` reports). Output per source: raw share,
    temperature share, and the upsample factor a data loader applies.
    Same two tiny aggregations + one-row broadcast as the mix-weights
    report — the 100 TB cost is the single (source) group-by."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    inv_t = 1.0 / SAMPLE_TEMP_T
    scaled = per_src.withColumn(
        "w", F.pow(F.col("n_docs").cast("double"), F.lit(inv_t))
    )
    total = scaled.agg(
        F.sum("n_docs").alias("all_docs"), F.sum("w").alias("all_w")
    )
    return (
        scaled.join(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            fround(F.col("n_docs") / F.col("all_docs"), 6).alias("raw_share"),
            fround(F.col("w") / F.col("all_w"), 6).alias("temp_share"),
            fround(
                (F.col("w") / F.col("all_w"))
                / (F.col("n_docs") / F.col("all_docs")),
                6,
            ).alias("upsample_factor"),
        )
        .orderBy("source")
    )


ORACLE["sample_temperature"] = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         pow(count(*)::DOUBLE, {1.0 / SAMPLE_TEMP_T}) AS w
  FROM documents GROUP BY 1
),
total AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS all_docs, sum(w) AS all_w
  FROM per_src
)
SELECT source, n_docs,
       {fround_sql("n_docs::DOUBLE / all_docs", 6)} AS raw_share,
       {fround_sql("w / all_w", 6)} AS temp_share,
       {fround_sql("(w / all_w) / (n_docs::DOUBLE / all_docs)", 6)} AS upsample_factor
FROM per_src CROSS JOIN total
ORDER BY source
"""


CDC_MODULUS = 8  # expected chunk length in tokens (boundary rate 1/8)


def corpus_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rsync/LBFS-style): a token ends a
    chunk when its content hash ≡ 0 mod {CDC_MODULUS}, so chunk
    boundaries move WITH the content — an insertion early in a
    document shifts byte offsets but not downstream boundaries, which
    is why CDC dedup beats fixed windows (``multimodal_audio_chunks``)
    on edited/reflowed near-duplicates. Output: the cross-document
    shared-chunk census (chunk hash → occurrences, distinct docs,
    token length) for chunks seen ≥ 2 times — the storage/transfer
    dedup table. Boundary detection and chunk assembly are per-row
    array expressions (zero shuffle); only the 16-byte chunk hash +
    counts shuffle for the census. At 100 TB: one scan, one hash
    aggregation on a well-spread key."""

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokenize_whitespace("text")
    # materialize the per-token hash array as a COLUMN before the
    # boundary filter references it positionally: element_at(
    # transform(...), i) inside the lambda would re-derive the whole
    # array per position (O(L²) md5 calls per doc — measured 6.4 s vs
    # 1.9 s cold at sf0.1); a column reference is hashed once per row
    base = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") > 0)
        .withColumn("hm", F.transform("t", lambda x: hash64(x) % CDC_MODULUS))
    )
    bounds = F.concat(
        F.array(F.lit(0)),
        F.filter(
            F.sequence(F.lit(1), F.size("t")),
            lambda i: F.element_at(F.col("hm"), i) == 0,
        ),
        F.array(F.size("t")),
    )
    withb = base.select("doc_id", "t", bounds.alias("b"))
    # chunk length comes straight from the boundary pair — no
    # re-splitting of the joined chunk string downstream
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("b") - 1),
            lambda j: F.when(
                F.element_at("b", j + 1) > F.element_at("b", j),
                F.struct(
                    F.md5(
                        F.array_join(
                            F.slice(
                                "t",
                                F.element_at("b", j) + 1,
                                F.element_at("b", j + 1) - F.element_at("b", j),
                            ),
                            " ",
                        )
                    ).alias("h"),
                    (F.element_at("b", j + 1) - F.element_at("b", j)).alias(
                        "tok_len"
                    ),
                ),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    exploded = withb.select("doc_id", F.explode(chunks).alias("c"))
    return (
        exploded.select(
            "doc_id",
            F.col("c.h").alias("chunk_hash"),
            F.col("c.tok_len").alias("tok_len"),
        )
        .groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("tok_len").alias("tok_len"),
        )
        .filter(F.col("n_occ") >= 2)
        .orderBy(F.col("n_occ").desc(), "chunk_hash")
        .limit(100)
    )


ORACLE["corpus_cdc_chunks"] = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents
),
h AS (
  SELECT doc_id, l,
         list_transform(l, x -> {hash64_sql('x')}
                                % {CDC_MODULUS}) AS hm
  FROM d WHERE len(l) > 0
),
b AS (
  SELECT doc_id, l,
         [0] || list_filter(generate_series(1, len(l)), i -> hm[i] = 0)
             || [len(l)] AS bounds
  FROM h
),
c AS (
  SELECT doc_id, unnest(list_filter(
           list_transform(generate_series(1, len(bounds) - 1),
             j -> CASE WHEN bounds[j+1] > bounds[j]
                  THEN array_to_string(l[bounds[j]+1:bounds[j+1]], ' ') END),
           x -> x IS NOT NULL)) AS chunk
  FROM b
)
SELECT md5(chunk) AS chunk_hash,
       count(*) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(max(len(string_split(chunk, ' '))) AS INT) AS tok_len
FROM c
GROUP BY 1
HAVING count(*) >= 2
ORDER BY n_occ DESC, chunk_hash
LIMIT 100
"""


RESERVOIR_K = 20  # docs kept per language


def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-key sampling ("reservoir" semantics, made
    deterministic): each language keeps its {k} docs with the SMALLEST
    md5(doc_id) — bottom-k-by-hash, the mergeable form of reservoir
    sampling (same principle as bottom-k distinct sketches), so the
    sample is stable across reruns, partitionings, and incremental
    ingests (a new doc displaces the largest kept hash iff it hashes
    lower). Two-phase at scale: a LOCAL bottom-k per (Spark partition,
    key) prunes the stream to ≤ k·|partitions|·|keys| rows BEFORE any
    shuffle — a global window alone would funnel the full corpus
    through |keys| hot reducers — then the global bottom-k runs on the
    pruned survivors. Both phases are the same window expression;
    correctness is partitioning-invariant because a global bottom-k
    row is necessarily a local bottom-k row in its partition.
    Tie-break on doc_id gives a total order in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    W = Window
    h = F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    base = docs.select("lang", "doc_id", h.alias("h"))
    local_w = W.partitionBy(F.spark_partition_id(), "lang").orderBy(
        "h", "doc_id"
    )
    pruned = base.withColumn("lrn", F.row_number().over(local_w)).filter(
        F.col("lrn") <= RESERVOIR_K
    )
    global_w = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        pruned.withColumn("rnk", F.row_number().over(global_w))
        .filter(F.col("rnk") <= RESERVOIR_K)
        .select("lang", F.col("rnk").cast("int").alias("rnk"), "doc_id")
        .orderBy("lang", "rnk")
    )


sample_reservoir_per_key.__doc__ = sample_reservoir_per_key.__doc__.format(
    k=RESERVOIR_K
)


ORACLE["sample_reservoir_per_key"] = f"""
SELECT lang, CAST(rnk AS INT) AS rnk, doc_id
FROM (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rnk
  FROM documents
)
WHERE rnk <= {RESERVOIR_K}
ORDER BY lang, rnk
"""


DOMAIN_CAP = 15  # max docs retained per source


def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap — the "no single domain dominates the
    mix" rule every web-scale training corpus applies before
    tokenization (cap crawl-heavy domains so boilerplate-rich sites
    can't swamp the token budget). Each source keeps its {cap} LONGEST
    documents (doc_id tie-break); the report shows, per source, how
    much of the corpus the cap retains — the artifact the data-mix
    owner reviews before signing off.

    Scale shape: selection is the same TWO-PHASE bottom-k prune as
    ``sample_reservoir_per_key`` — a per-(Spark partition, source)
    local top-{cap} cuts the corpus to ≤ cap·|parts|·|sources| rows
    BEFORE the single shuffle on source, so no hot reducer ever sees
    a full domain (the exact failure mode the cap exists to fix).
    Totals come from a separate partial-aggregatable groupBy; both
    branches shuffle only key-sized data."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", "doc_id", "n_chars")
    local_w = Window.partitionBy(F.spark_partition_id(), "source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    pruned = base.withColumn("lrn", F.row_number().over(local_w)).filter(
        F.col("lrn") <= DOMAIN_CAP
    )
    global_w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    kept = (
        pruned.withColumn("rnk", F.row_number().over(global_w))
        .filter(F.col("rnk") <= DOMAIN_CAP)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )
    totals = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    return (
        totals.join(kept, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            "chars_total",
            "chars_kept",
            fround(
                F.col("chars_kept") / F.col("chars_total").cast("double"), 6
            ).alias("retention"),
        )
        .orderBy("source")
    )


corpus_domain_cap.__doc__ = corpus_domain_cap.__doc__.format(cap=DOMAIN_CAP)


ORACLE["corpus_domain_cap"] = f"""
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents
),
kept AS (
  SELECT source, count(*) AS n_kept,
         CAST(sum(n_chars) AS BIGINT) AS chars_kept
  FROM ranked WHERE rnk <= {DOMAIN_CAP} GROUP BY source
),
totals AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars_total
  FROM documents GROUP BY source
)
SELECT t.source, t.n_docs, k.n_kept, t.chars_total, k.chars_kept,
       {fround_sql('k.chars_kept / CAST(t.chars_total AS DOUBLE)', 6)}
         AS retention
FROM totals t JOIN kept k USING (source)
ORDER BY t.source
"""


AES_K = 20  # weighted sample size


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly {k} items, by
    the Efraimidis–Spirakis A-ES scheme: each doc draws u ∈ (0,1)
    and is ranked by u^(1/w) (computed as ln(u)/w — same order,
    no pow) with w = n_chars, so longer documents win
    proportionally more often yet every doc remains reachable —
    the distributed-standard algorithm because the rank key is
    computed row-locally and top-k is MERGEABLE (the same two-phase
    local-prune-then-global-k as ``sample_reservoir_per_key``;
    ``sample_quality_weighted`` is the Bernoulli expected-rate
    cousin, this one guarantees the exact sample size). u is the
    md5-derived fraction in (0,1) — deterministic, replayable,
    engine-reproducible; strictly positive so ln() is total."""

    docs = load_table(spark, sf_dir, "documents")
    u = (
        hash64(F.concat(F.lit("aes:"), F.col("doc_id").cast("string")))
        % 1048576
        + 1
    ) / F.lit(1048577.0)
    key = F.log(u) / F.col("n_chars").cast("double")
    base = docs.select("doc_id", "source", "n_chars", key.alias("k"))
    # sort+limit compiles to TakeOrderedAndProject: per-partition
    # partial top-K then a K-row merge — no global sort shuffle and
    # no partitionless WindowExec. Ranking then runs over the K-row
    # result via single_partition (frame bounded at K rows).
    topk, const_w = single_partition(
        base.orderBy(F.col("k").desc(), "doc_id").limit(AES_K),
        by=[F.col("k").desc(), "doc_id"],
    )
    return (
        topk.withColumn("rnk", F.row_number().over(const_w))
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            "source",
            "n_chars",
        )
        .orderBy("rnk")
    )


sample_weighted_topk.__doc__ = sample_weighted_topk.__doc__.format(k=AES_K)


ORACLE["sample_weighted_topk"] = f"""
SELECT CAST(rnk AS INT) AS rnk, doc_id, source, n_chars
FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           ORDER BY ln(({hash64_sql("'aes:' || CAST(doc_id AS VARCHAR)")}
                        % 1048576 + 1) / CAST(1048577 AS DOUBLE))
                    / CAST(n_chars AS DOUBLE) DESC,
                    doc_id
         ) AS rnk
  FROM documents
)
WHERE rnk <= {AES_K}
ORDER BY rnk
"""


DSIR_BUCKETS = 64  # hashed-feature buckets (DSIR §2.2 uses 10k; 64 keeps the oracle readable)
DSIR_LAMBDA = 0.5  # add-λ smoothing on bucket counts


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed-unigram distribution is,
    ``log w(x) = Σ_tokens log p̂_target(bucket(t)) / p̂_raw(bucket(t))``
    with add-λ smoothed bucket probabilities. Target = the ``src0``
    slice (the "trusted domain" proxy); raw = the whole corpus.

    Plan: one exploded-token aggregation to (doc, bucket) counts with
    map-side partials (the only corpus-sized shuffle, keyed on
    doc_id), two {DSIR_BUCKETS}-row bucket marginals + their totals
    via crossJoin(broadcast(agg)), a broadcast join of the 64-row
    log-ratio table back to the per-doc counts, and a 20-row
    per-source report. At 100 TB the bucket table is still 64 rows —
    the whole selection model broadcasts."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda t: t != "")
        ).alias("tok"),
    )
    bucket = hash64("tok") % DSIR_BUCKETS
    dbc = (
        toks.select("doc_id", "source", bucket.alias("bucket"))
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    raw = dbc.groupBy("bucket").agg(F.sum("c").alias("cr"))
    tgt = (
        dbc.filter(F.col("source") == "src0")
        .groupBy("bucket")
        .agg(F.sum("c").alias("ct"))
    )
    marginals = (
        raw.join(tgt, "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(raw.agg(F.sum("cr").alias("tr"))))
        .crossJoin(F.broadcast(tgt.agg(F.sum("ct").alias("tt"))))
    )
    smooth = DSIR_LAMBDA * DSIR_BUCKETS
    log_ratio = F.log(
        (F.col("ct") + DSIR_LAMBDA) / (F.col("tt") + smooth)
    ) - F.log((F.col("cr") + DSIR_LAMBDA) / (F.col("tr") + smooth))
    ratios = marginals.select("bucket", log_ratio.alias("lr"))
    per_doc = (
        dbc.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id", "source")
        .agg(fround(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg("logw"), 4).alias("avg_logw"),
            fround(
                F.avg((F.col("logw") > 0).cast("double")), 4
            ).alias("share_target_like"),
        )
        .orderBy("source")
    )


ORACLE["corpus_dsir_weights"] = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS tok
  FROM documents
),
dbc AS (
  SELECT doc_id, source,
         {hash64_sql('tok')} % {DSIR_BUCKETS} AS bucket,
         count(*) AS c
  FROM toks GROUP BY 1, 2, 3
),
raw AS (SELECT bucket, sum(c) AS cr FROM dbc GROUP BY 1),
tgt AS (SELECT bucket, sum(c) AS ct FROM dbc WHERE source = 'src0' GROUP BY 1),
ratios AS (
  -- CASTs force DOUBLE arithmetic: DuckDB parses 0.5 as DECIMAL and
  -- BIGINT+DECIMAL division rounds differently from Spark doubles
  SELECT raw.bucket,
         ln((coalesce(tgt.ct, 0) + CAST({DSIR_LAMBDA} AS DOUBLE))
            / ((SELECT sum(ct) FROM tgt)
               + CAST({DSIR_LAMBDA * DSIR_BUCKETS} AS DOUBLE)))
         - ln((raw.cr + CAST({DSIR_LAMBDA} AS DOUBLE))
              / ((SELECT sum(cr) FROM raw)
                 + CAST({DSIR_LAMBDA * DSIR_BUCKETS} AS DOUBLE)))
           AS lr
  FROM raw LEFT JOIN tgt USING (bucket)
),
per_doc AS (
  SELECT doc_id, source,
         {fround_sql("sum(c * lr)", 6)} AS logw
  FROM dbc JOIN ratios USING (bucket)
  GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       {fround_sql("avg(logw)", 4)} AS avg_logw,
       {fround_sql("avg(CASE WHEN logw > 0 THEN 1.0 ELSE 0.0 END)", 4)}
         AS share_target_like
FROM per_doc GROUP BY 1 ORDER BY 1
"""


SPAN_START_MOD = 20  # a span starts at ~1/20 of token positions
SPAN_LEN = 3  # fixed span length (T5 mean span length)


def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask audit — the pretraining-data op
    that decides, per document, WHICH token spans get masked and
    reports the realized corruption statistics (target noise density
    ≈ {SPAN_LEN}/{SPAN_START_MOD} = 15 %). Span starts are drawn
    DETERMINISTICALLY from an md5 hash of (doc, position) — the same
    no-stored-randomness contract as the Poisson bootstrap: any
    worker can recompute any doc's mask with no coordination, which
    is what makes the op shardable at 100 TB. Fixed-length spans
    (len {SPAN_LEN}) merge when they overlap; masked(i) is a window
    max over the previous {SPAN_LEN} positions and span count is a
    masked-run edge count — two narrow windows PARTITIONED PER DOC
    (high-cardinality key, even spread), then one per-doc rollup."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(normalize_text("text"), " "),
                lambda x: x != F.lit(""),
            )
        ).alias("pos", "tok"),
    )
    start = (
        hash64(F.concat_ws(":", "doc_id", "pos"))
        % SPAN_START_MOD
        == 0
    ).cast("int")
    flagged = toks.select("doc_id", "pos", start.alias("st"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(SPAN_LEN - 1), 0)
    )
    masked = flagged.select(
        "doc_id", "pos", F.max("st").over(w).alias("m")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    runs = masked.select(
        "doc_id",
        "m",
        (
            (F.col("m") == 1)
            & (F.coalesce(F.lag("m").over(wl), F.lit(0)) == 0)
        ).cast("int").alias("run_start"),
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("m").cast("bigint").alias("n_masked"),
            F.sum("run_start").cast("bigint").alias("n_spans"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            "n_spans",
            fround(F.col("n_masked") / F.col("n_tokens"), 6).alias(
                "mask_ratio"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE["corpus_span_corruption"] = rf"""
WITH positions AS (
  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos
  FROM (
    SELECT doc_id,
           list_filter(
             string_split({normalize_sql('text')}, ' '),
             x -> x <> '') AS l
    FROM documents
  ) x
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN {hash64_sql("doc_id || ':' || pos")}
                   % {SPAN_START_MOD} = 0
              THEN 1 ELSE 0 END AS st
  FROM positions
),
masked AS (
  SELECT doc_id, pos,
         max(st) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {SPAN_LEN - 1} PRECEDING AND CURRENT ROW)
           AS m
  FROM flagged
),
runs AS (
  SELECT doc_id, m,
         CASE WHEN m = 1 AND coalesce(
                lag(m) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
              THEN 1 ELSE 0 END AS run_start
  FROM masked
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(m) AS BIGINT) AS n_masked,
       CAST(sum(run_start) AS BIGINT) AS n_spans,
       {fround_sql("sum(m) / CAST(count(*) AS DOUBLE)", 6)} AS mask_ratio
FROM runs GROUP BY doc_id
ORDER BY doc_id
"""


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
# fixed literal queries — deterministic, engine-independent
BM25_QUERIES = (
    ("q1", "data quality model"),
    ("q2", "stream window join"),
    ("q3", "token sample index"),
)


def corpus_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOPK} retrieval for a fixed query set — the
    ranking function every RAG index and search sidecar defaults to
    (Lucene's formula: idf = ln(1 + (N−df+0.5)/(df+0.5)), tf
    saturation k1={BM25_K1}, length normalization b={BM25_B}). Scale
    shape: term frequencies are computed ONLY for the query terms
    (the token stream is semi-joined against the broadcast query
    vocabulary before any aggregation — the inverted-index access
    pattern, never a full-vocab score), document lengths and idf are
    bounded broadcast frames, and the final top-k is a per-query
    window over the scored postings. Everything is JVM column
    arithmetic; ties break on doc_id."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    qterms_rows = [
        (qid, t) for qid, q in BM25_QUERIES for t in q.split()
    ]
    qterms = spark.createDataFrame(qterms_rows, "qid string, term string")
    # token stream carries its doc's length (dl is functionally
    # dependent on doc_id), so the per-(doc, term) aggregation keys on
    # it directly — no separate doclen join on doc_id (guide §2.4);
    # the stream is query-vocabulary-bounded before the aggregation,
    # so the extra column rides only on matching postings
    terms = _doc_terms_len(docs)
    stats = _doc_lengths(docs).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        terms.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avgdl",
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .select(
            "term",
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    per_q = (
        F.broadcast(qterms)
        .join(scored, "term")
        .groupBy("qid", "doc_id")
        .agg(F.sum("s").alias("score"), F.count(F.lit(1)).alias("n_terms_hit"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per_q.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select(
            "qid",
            "rank",
            "doc_id",
            "n_terms_hit",
            fround("score", 6).alias("bm25"),
        )
        .orderBy("qid", "rank")
    )


def _bm25_oracle() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, q in BM25_QUERIES for t in q.split()
    )
    return f"""
WITH qterms(qid, term) AS (VALUES {qvals}),
terms AS ({_DOC_TERMS_SQL}),
doclen AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM terms t
  WHERE t.term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY 1, 2
),
df_ AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
idf AS (
  SELECT term,
         ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf,
         s.avgdl
  FROM df_ CROSS JOIN stats s
),
scored AS (
  SELECT tf.term, tf.doc_id,
         idf.idf * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / idf.avgdl)) AS s
  FROM tf
  JOIN idf USING (term)
  JOIN doclen dl USING (doc_id)
),
per_q AS (
  SELECT q.qid, sc.doc_id, sum(sc.s) AS score, count(*) AS n_terms_hit
  FROM qterms q JOIN scored sc USING (term)
  GROUP BY 1, 2
),
ranked AS (
  SELECT qid, doc_id, score, n_terms_hit,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, doc_id) AS rank
  FROM per_q
)
SELECT qid, CAST(rank AS INT) AS rank, doc_id,
       CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
       {fround_sql("score", 6)} AS bm25
FROM ranked WHERE rank <= {BM25_TOPK}
ORDER BY qid, rank
"""


ORACLE["corpus_bm25_retrieval"] = _bm25_oracle()


# --- hybrid retrieval: reciprocal rank fusion ------------------------

RRF_K = 60  # the canonical RRF damping constant (Cormack et al. 2009)
RRF_ARM_TOPK = 20  # depth of each arm's candidate list
RRF_TOPK = 10  # fused results returned per query
RRF_MLT_TERMS = 8  # more-like-this: top-TF terms taken from the query doc
# Fixed-size query-by-example panel (ids ≡ 0 mod RRF_PANEL_MOD below
# RRF_PANEL_CAP → 10 queries at EVERY scale factor). The panel must
# never be a corpus fraction — the ANN family's sf10 sweep measured
# exponent 1.42 when it was (see _QUERY_PRED in similarity.py); with a
# fixed panel both arms stay linear in the corpus.
RRF_PANEL_MOD = 50
RRF_PANEL_CAP = 500


def _rrf_panel(col: str) -> str:
    return f"{col} % {RRF_PANEL_MOD} = 0 AND {col} < {RRF_PANEL_CAP}"


def rrf_fuse(
    dense: DataFrame, lex: DataFrame, k: int = RRF_K, topk: int = RRF_TOPK
) -> DataFrame:
    """Fuse two (qid, doc_id, rank) arm frames by Reciprocal Rank
    Fusion: score = Σ_arms 1/(k + rank), absent arms contribute 0.
    Pure integer-rank arithmetic → bit-identical across engines."""
    d = dense.select("qid", "doc_id", F.col("rank").alias("r_dense"))
    x = lex.select("qid", "doc_id", F.col("rank").alias("r_lex"))
    fused = d.join(x, ["qid", "doc_id"], "full_outer").select(
        "qid",
        "doc_id",
        "r_dense",
        "r_lex",
        (
            F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("r_dense")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("r_lex")), F.lit(0.0))
        ).alias("rrf"),
    )
    wf = Window.partitionBy("qid").orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("qid").alias("query_id"),
            "rank",
            "doc_id",
            "r_dense",
            "r_lex",
            fround("rrf", 6).alias("rrf"),
        )
        .orderBy("query_id", "rank")
    )


def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion — the default
    architecture of every production RAG stack: a LEXICAL arm and a
    DENSE arm each produce a top-{RRF_ARM_TOPK} list per query, and
    the fused score of a document is Σ_arms 1/({RRF_K} + rank_arm)
    (Cormack et al. 2009's parameter-free rank fusion; absent arms
    contribute 0). Queries are query-by-example: a fixed panel of
    corpus documents (ids ≡ 0 mod {RRF_PANEL_MOD} below
    {RRF_PANEL_CAP}), so the
    lexical arm is Lucene-style more-like-this (the query doc's top-
    {RRF_MLT_TERMS} terms by TF, BM25-scored through the inverted-
    index access pattern of ``corpus_bm25_retrieval``) and the dense
    arm is cosine top-k over the shared-id ``embeddings`` table
    (brute-force here — the honest baseline; ``ann_topk_bucketed`` is
    the documented scale path for the arm). Plan shape: the panel and
    its term lists are broadcast everywhere, both arms are linear in
    the corpus, and the fusion itself is a full-outer join of two
    panel×{RRF_ARM_TOPK}-row frames — driver-safe at any corpus size.
    Ranks fuse as exact integers, so the RRF score is bit-identical
    across engines; arm scores are grid-snapped (fround 6) BEFORE
    ranking so per-arm rank order is summation-order-proof."""
    from mapreduce_rust_spark.operators.similarity import topk_bruteforce

    # --- dense arm ---
    emb = load_table(spark, sf_dir, "embeddings")
    dense = topk_bruteforce(
        emb.filter(F.expr(_rrf_panel("vec_id"))),
        emb,
        "vec_id",
        "embedding",
        k=RRF_ARM_TOPK,
    ).select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("r_dense"),
    )

    # --- lexical arm: more-like-this BM25 ---
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = _doc_terms(docs)
    wq = Window.partitionBy("qid").orderBy(F.col("tf").desc(), "term")
    qterms = (
        terms.filter(F.expr(_rrf_panel("doc_id")))
        .groupBy(F.col("doc_id").alias("qid"), "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= RRF_MLT_TERMS)
        .select("qid", "term")
    )
    # dl rides on the (query-vocabulary-bounded) token stream instead
    # of a separate doclen join on doc_id — same rewrite as
    # ``corpus_bm25_retrieval`` (guide §2.4)
    stats = _doc_lengths(docs).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        _doc_terms_len(docs)
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
            "avgdl",
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .select(
            "term",
            "doc_id",
            (
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )
    wl = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), "doc_id")
    lex = (
        F.broadcast(qterms)
        .join(scored, "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id")
        .agg(fround(F.sum("s"), 6).alias("bm25"))
        .withColumn("r_lex", F.row_number().over(wl))
        .filter(F.col("r_lex") <= RRF_ARM_TOPK)
        .select("qid", "doc_id", "r_lex")
    )

    # --- fusion ---
    return rrf_fuse(
        dense.select("qid", "doc_id", F.col("r_dense").alias("rank")),
        lex.select("qid", "doc_id", F.col("r_lex").alias("rank")),
        k=RRF_K,
        topk=RRF_TOPK,
    )


search_rrf_fusion.__doc__ = search_rrf_fusion.__doc__.format(
    RRF_K=RRF_K,
    RRF_ARM_TOPK=RRF_ARM_TOPK,
    RRF_MLT_TERMS=RRF_MLT_TERMS,
    RRF_PANEL_MOD=RRF_PANEL_MOD,
    RRF_PANEL_CAP=RRF_PANEL_CAP,
)


def _rrf_oracle() -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE {_rrf_panel("vec_id")}),
dsc AS (
  SELECT q.qid, e.vec_id AS doc_id,
         floor(round(list_cosine_similarity(q.qv, e.v), 10) * 1000000) / 1000000 AS sim
  FROM q JOIN e ON q.qid <> e.vec_id
),
dense AS (
  SELECT qid, doc_id, r_dense FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, doc_id) AS r_dense
    FROM dsc
  ) WHERE r_dense <= {RRF_ARM_TOPK}
),
terms AS ({_DOC_TERMS_SQL}),
qterms AS (
  SELECT qid, term FROM (
    SELECT doc_id AS qid, term,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, term) AS rn
    FROM terms WHERE {_rrf_panel("doc_id")}
    GROUP BY doc_id, term
  ) WHERE rn <= {RRF_MLT_TERMS}
),
doclen AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM terms t
  WHERE t.term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY 1, 2
),
idf AS (
  SELECT term, ln(1.0 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf, s.avgdl
  FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) CROSS JOIN stats s
),
lsc AS (
  SELECT tf.term, tf.doc_id,
         idf.idf * (tf.tf * ({BM25_K1} + 1))
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / idf.avgdl)) AS s
  FROM tf JOIN idf USING (term) JOIN doclen dl USING (doc_id)
),
lex AS (
  SELECT qid, doc_id, r_lex FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS r_lex
    FROM (
      SELECT q.qid, sc.doc_id, {fround_sql("sum(sc.s)", 6)} AS bm25
      FROM qterms q JOIN lsc sc USING (term)
      WHERE sc.doc_id <> q.qid
      GROUP BY 1, 2
    )
  ) WHERE r_lex <= {RRF_ARM_TOPK}
),
fused AS (
  SELECT coalesce(d.qid, l.qid) AS query_id,
         coalesce(d.doc_id, l.doc_id) AS doc_id,
         d.r_dense, l.r_lex,
         coalesce(1.0 / ({RRF_K} + d.r_dense), 0.0)
           + coalesce(1.0 / ({RRF_K} + l.r_lex), 0.0) AS rrf
  FROM dense d FULL OUTER JOIN lex l
    ON l.qid = d.qid AND l.doc_id = d.doc_id
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
       CAST(r_dense AS INT) AS r_dense, CAST(r_lex AS INT) AS r_lex,
       {fround_sql("rrf", 6)} AS rrf
FROM (
  SELECT query_id, doc_id, r_dense, r_lex, rrf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= {RRF_TOPK}
ORDER BY query_id, rank
"""


ORACLE["search_rrf_fusion"] = _rrf_oracle()


def corpus_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration audit — the "is my corpus one domain in a
    trench coat" report read before any mixing decision: per-source
    token mass, share, the Lorenz curve point (cumulative share in
    ascending-mass order), plus the three standard concentration
    summaries repeated as columns — Gini over source shares (0 =
    perfectly even, →1 = one source holds everything), Herfindahl-
    Hirschman index Σshare² (the antitrust statistic; 1/K at perfect
    evenness), and the top-1 source share. ``corpus_mix_water_filling``
    DECIDES the rebalance; this measures how skewed the input is so
    the decision has a baseline.

    Scale shape: one per-row token-count expression fused into the
    scan, ONE partial-combined aggregation onto the |sources|-row key,
    then the Lorenz/Gini windows run via ``single_partition`` on the
    provably-bounded per-source frame. The corpus is touched exactly
    once."""
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: t != "")
    ).cast("bigint")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks).cast("bigint").alias("tokens"),
    )
    src1, w = single_partition(per_src, by=[F.col("tokens"), F.col("source")])
    wall = Window.partitionBy(F.spark_partition_id())
    ranked = src1.select(
        "source",
        "n_docs",
        "tokens",
        F.row_number().over(w).alias("rank_asc"),
        F.sum("tokens").over(wall).alias("_tot"),
        F.count(F.lit(1)).over(wall).alias("_k"),
        F.sum("tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
    )
    share = F.col("tokens") / F.col("_tot").cast("double")
    gini = (
        F.lit(2.0)
        * F.sum(F.col("rank_asc") * F.col("tokens")).over(wall)
        / (F.col("_k") * F.col("_tot").cast("double"))
        - (F.col("_k") + 1) / F.col("_k").cast("double")
    )
    return ranked.select(
        "source",
        "n_docs",
        "tokens",
        fround(share, 6).alias("share"),
        fround(F.col("_cum") / F.col("_tot").cast("double"), 6).alias(
            "cum_share"
        ),
        F.col("rank_asc"),
        fround(gini, 6).alias("gini"),
        fround(F.sum(share * share).over(wall), 6).alias("hhi"),
        fround(F.max(share).over(wall), 6).alias("top_share"),
    ).orderBy("rank_asc")


ORACLE["corpus_concentration"] = rf"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> ''))) AS BIGINT) AS tokens
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT source, n_docs, tokens,
         row_number() OVER (ORDER BY tokens, source) AS rank_asc,
         sum(tokens) OVER () AS _tot,
         count(*) OVER () AS _k,
         sum(tokens) OVER (ORDER BY tokens, source
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _cum
  FROM per_src
)
SELECT source, n_docs, tokens,
       {fround_sql("tokens / CAST(_tot AS DOUBLE)", 6)} AS share,
       {fround_sql("_cum / CAST(_tot AS DOUBLE)", 6)} AS cum_share,
       CAST(rank_asc AS INT) AS rank_asc,
       {fround_sql(
           "2.0 * sum(rank_asc * tokens) OVER () / (_k * CAST(_tot AS DOUBLE))"
           " - (_k + 1) / CAST(_k AS DOUBLE)", 6)} AS gini,
       {fround_sql(
           "sum((tokens / CAST(_tot AS DOUBLE)) * (tokens / CAST(_tot AS DOUBLE)))"
           " OVER ()", 6)} AS hhi,
       {fround_sql("max(tokens / CAST(_tot AS DOUBLE)) OVER ()", 6)} AS top_share
FROM ranked ORDER BY rank_asc
"""


def corpus_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup re-weighting (He et al. 2024, "SoftDedup") — instead
    of DELETING exact duplicates (``dedup_exact``'s survivor policy),
    keep every copy but down-weight it by its duplication multiplicity
    (weight = 1/m for a doc whose normalized content appears m times
    corpus-wide), so the training distribution matches the deduped one
    while preserving data order/packing. Output per source: raw
    docs/tokens, EFFECTIVE docs/tokens (Σ 1/m, Σ tokens/m), and the
    inflation factor raw/effective — the number that says how much of
    each source's apparent mass is duplication.

    Scale shape: ONE content-hash aggregation (the ``dedup_exact``
    census) gives multiplicities; the map-side join back is keyed on
    the same 16-byte hash (linear, partial-combined both sides); the
    per-source rollup shuffles a |sources|-row frame. The normalized
    hash matches ``dedup_exact_normalized`` semantics, so the
    effective-doc total equals that census's survivor count by
    construction."""

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_toks = F.size(
        F.filter(F.split("text", r"\s+"), lambda t: t != "")
    ).cast("bigint")
    hashed = docs.select(
        "doc_id",
        "source",
        n_toks.alias("n_tok"),
        F.md5(normalize_text(F.col("text"))).alias("chash"),
    )
    mult = hashed.groupBy("chash").agg(F.count(F.lit(1)).alias("m"))
    weighted = hashed.join(mult, "chash").select(
        "source",
        "n_tok",
        (F.lit(1.0) / F.col("m")).alias("w"),
    )
    return (
        weighted.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens"),
            fround(F.sum("w"), 6).alias("effective_docs"),
            fround(F.sum(F.col("n_tok") * F.col("w")), 6).alias(
                "effective_tokens"
            ),
            fround(
                F.sum("n_tok")
                / F.greatest(F.sum(F.col("n_tok") * F.col("w")), F.lit(1e-12)),
                6,
            ).alias("inflation"),
        )
        .orderBy("source")
    )


ORACLE["corpus_softdedup_weights"] = rf"""
WITH hashed AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok,
         md5({normalize_sql('text')})
           AS chash
  FROM documents
),
mult AS (SELECT chash, count(*) AS m FROM hashed GROUP BY 1)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       {fround_sql("sum(1.0 / m)", 6)} AS effective_docs,
       {fround_sql("sum(n_tok * 1.0 / m)", 6)} AS effective_tokens,
       {fround_sql(
           "sum(n_tok) / greatest(sum(n_tok * 1.0 / m), 1e-12)", 6)}
         AS inflation
FROM hashed JOIN mult USING (chash)
GROUP BY source ORDER BY source
"""


QUERIES = {
    "corpus_concentration": corpus_concentration,
    "corpus_softdedup_weights": corpus_softdedup_weights,
    "search_rrf_fusion": search_rrf_fusion,
    "sample_neyman_allocation": sample_neyman_allocation,
    "corpus_bm25_retrieval": corpus_bm25_retrieval,
    "corpus_span_corruption": corpus_span_corruption,
    "corpus_dsir_weights": corpus_dsir_weights,
    "sample_hash_deterministic": sample_hash_deterministic,
    "sample_reservoir_per_key": sample_reservoir_per_key,
    "corpus_domain_cap": corpus_domain_cap,
    "sample_weighted_topk": sample_weighted_topk,
    "corpus_quality_calibrated_filter": corpus_quality_calibrated_filter,
    "corpus_chunk_overlap": corpus_chunk_overlap,
    "sample_temperature": sample_temperature,
    "corpus_cdc_chunks": corpus_cdc_chunks,
    "tfidf_top_terms": tfidf_top_terms,
    "inverted_index_postings": inverted_index_postings,
    "search_prefix_topk": search_prefix_topk,
    "corpus_mix_water_filling": corpus_mix_water_filling,
    "corpus_shard_pack": corpus_shard_pack,
    "sample_stratified": sample_stratified,
    "source_mix_weights": source_mix_weights,
    "corpus_budget_select": corpus_budget_select,
    "corpus_split_assign": corpus_split_assign,
    "corpus_pack_sequences": corpus_pack_sequences,
    "corpus_shuffle_order": corpus_shuffle_order,
    "corpus_length_histogram": corpus_length_histogram,
    "sample_quality_weighted": sample_quality_weighted,
}
