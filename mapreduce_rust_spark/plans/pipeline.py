"""Capstone composition: the end-to-end "prepare a training corpus"
job an LLM-data pipeline actually runs, built ENTIRELY from the
engine's own operators — exact dedup survivors → quality + language
gates → token budgeting — and value-checked as one unit against a
single composed SQL oracle.

Plan shape at scale: dedup's hash aggregate is the only wide shuffle;
quality/language/token columns are pure per-row expressions fused
into the same scan; the survivor join is keyed on doc_id (or
broadcast when the survivor set is small after heavy dedup). The
final per-language rollup shuffles a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.functions.text import bpe_ish_tokens, hash64_sql
from mapreduce_rust_spark.operators.dedup import (
    duplicate_span_removal,
    exact_census_index,
)
from mapreduce_rust_spark.operators.text_analysis import (
    _gopher_exprs,
    _langid_exprs,
    _language_id_sql,
    _quality_exprs,
    _quality_sql,
    quality_scores,
)
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

MIN_QUALITY = 0.6


def pipeline_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per detected language: how many documents survive dedup + the
    quality gate, and what token budget they carry. The shape every
    training-data run reports before a tokenizer ever starts."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    survivors = exact_census_index(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id")
    )
    # The quality gate, language id and token count are all pure
    # per-row expressions over the SAME document row; joining three
    # separately-projected frames back on doc_id cost two extra scans
    # + two SortMergeJoins for nothing (guide §2.4: remove shuffles
    # outright). Fuse all three into one projection after the survivor
    # join. Equivalent because doc_id is unique per row and each
    # original join was inner on doc_id: the quality frame's
    # ``n_chars > 0`` row filter becomes an explicit filter here.
    qe = _quality_exprs("text")
    le = _langid_exprs("text")
    kept = (
        docs.join(survivors, "doc_id")
        .filter(qe["_n_chars"] > 0)
        .select(
            "doc_id",
            qe["quality_score"].alias("quality_score"),
            le["pred_lang"].alias("pred_lang"),
            F.size(bpe_ish_tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        )
        .filter(F.col("quality_score") >= MIN_QUALITY)
    )
    return kept.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        fround(F.avg("quality_score"), 4).alias("avg_quality"),
    )


ORACLE["pipeline_prepare_corpus"] = f"""
WITH survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
quality AS (
  {_quality_sql()}
),
lang AS (
  SELECT doc_id, pred_lang FROM ({_language_id_sql()}) l
),
tokens AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
           AS BIGINT) AS n_tok
  FROM documents
)
SELECT pred_lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       {fround_sql("avg(quality_score)", 4)} AS avg_quality
FROM survivors
JOIN quality USING (doc_id)
JOIN lang USING (doc_id)
JOIN tokens USING (doc_id)
WHERE quality_score >= {MIN_QUALITY}
GROUP BY pred_lang
"""

def pipeline_prepare_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep v2: ``pipeline_prepare_corpus`` upgraded with the
    WITHIN-document rewrite stage the v1 funnel lacked — exact-dedup
    survivors are span-excised (Lee et al. 2022 keep-one semantics,
    ``duplicate_span_removal``) BEFORE the quality/language gates, so
    boilerplate that repeats across surviving documents no longer
    inflates token budgets or quality scores. The report carries the
    tokens-removed attrition per language (the number a corpus owner
    reads to see what excision actually cost).

    Order of stages matters and is deliberate: doc-level dedup first
    (exact copies collapse, so spans duplicated only because a whole
    document was duplicated are NOT excised from the survivor), then
    the span census + excision over survivors only, then gates scored
    on the EXCISED text. Token accounting uses the same normalized
    whitespace token stream the excision operates in (v1 counted
    BPE-ish tokens of the raw text — a pre-rewrite budget; v2's budget
    is post-rewrite by construction).

    Scale shape: one wide hash aggregate (doc dedup), the span
    machinery's partial aggs on 16-byte anchor hashes (plan documented
    at ``dedup_span_removal``), then per-row gate expressions over the
    candidate-bounded cleaned frame and a per-language rollup. No new
    shuffle class beyond the composed operators'."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    survivors = exact_census_index(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id")
    )
    sdocs = docs.join(survivors, "doc_id")
    # ``cleaned`` is not checkpointed: the gate fusion below leaves
    # it exactly ONE consumer (unfused, quality, lang and kept each
    # inlined the 50+-Exchange span subtree, 202 Exchanges composed).
    # A checkpoint here materializes the full survivor corpus (text
    # included) into executor storage for nothing, and was the
    # measured source of the slug's super-linear sf1→sf10 exponent
    # (1.25 with the checkpoint vs 0.53 for the span op itself).
    # Single consumer ⇒ recompute never happens ⇒ no checkpoint
    # (guide §5: cache only what is reused AND expensive).
    cleaned = duplicate_span_removal(sdocs, "doc_id", "text").withColumnRenamed(
        "cleaned_text", "text"
    )
    # Quality + language gates fused into ONE projection pass over the
    # checkpointed frame (guide §2.4): both are pure per-row
    # expressions, so the former three-way self-join on doc_id (two
    # extra scans of ``cleaned`` + two SortMergeJoins) computed nothing
    # the single pass doesn't. Equivalent: doc_id is unique per
    # ``cleaned`` row, the joins were inner, and the quality frame's
    # ``n_chars > 0`` row filter is applied explicitly.
    qe = _quality_exprs("text")
    le = _langid_exprs("text")
    kept = (
        cleaned.filter(qe["_n_chars"] > 0)
        .select(
            "doc_id",
            "n_tokens",
            "n_tokens_removed",
            qe["quality_score"].alias("quality_score"),
            le["pred_lang"].alias("pred_lang"),
        )
        .filter(F.col("quality_score") >= MIN_QUALITY)
    )
    return (
        kept.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens") - F.col("n_tokens_removed"))
            .cast("bigint")
            .alias("total_tokens"),
            F.sum("n_tokens_removed").cast("bigint").alias("tokens_removed"),
            fround(F.avg("quality_score"), 4).alias("avg_quality"),
        )
        .orderBy("pred_lang")
    )


def _prepare_corpus_v2_oracle() -> str:
    from mapreduce_rust_spark.operators.dedup import (
        _TOK_SQL,
        RUN_MIN_DOCS,
        RUN_SPAN_K,
    )

    leads = " || ' ' || ".join(
        f"lead(w,{i}) OVER win" for i in range(1, RUN_SPAN_K)
    )
    return f"""
WITH survivors AS MATERIALIZED (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
tok0 AS ({_TOK_SQL}),
tok AS MATERIALIZED (SELECT t.doc_id, t.pos, t.w FROM tok0 t JOIN survivors USING (doc_id)),
spans AS (
  SELECT doc_id, pos, md5(w || ' ' || {leads}) AS h
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
anch AS MATERIALIZED (SELECT doc_id, pos, h FROM spans WHERE h IS NOT NULL),
dup AS (
  SELECT h FROM anch GROUP BY h
  HAVING count(DISTINCT doc_id) >= {RUN_MIN_DOCS}
),
danch AS MATERIALIZED (SELECT a.doc_id, a.pos, a.h FROM anch a JOIN dup USING (h)),
kd AS (SELECT h, min(doc_id) AS kd FROM danch GROUP BY h),
kp AS (
  SELECT d.h, k.kd, min(d.pos) AS kp
  FROM danch d JOIN kd k ON k.h = d.h AND d.doc_id = k.kd
  GROUP BY d.h, k.kd
),
removed AS (
  SELECT d.doc_id, d.pos
  FROM danch d JOIN kp ON kp.h = d.h
  WHERE NOT (d.doc_id = kp.kd AND d.pos = kp.kp)
),
cov AS (
  SELECT DISTINCT doc_id, pos + i AS pos
  FROM removed CROSS JOIN range(0, {RUN_SPAN_K}) u(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.w
  FROM tok t ANTI JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
),
tot AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY 1),
ka AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(w, ' ' ORDER BY pos) AS text
  FROM kept GROUP BY 1
),
cleaned AS MATERIALIZED (
  SELECT t.doc_id, coalesce(ka.text, '') AS text,
         t.n_tokens, t.n_tokens - coalesce(ka.n_kept, 0) AS n_tokens_removed
  FROM tot t LEFT JOIN ka USING (doc_id)
),
quality AS ({_quality_sql("cleaned")}),
lang AS (SELECT doc_id, pred_lang FROM ({_language_id_sql("cleaned")}) l)
SELECT pred_lang, count(*) AS n_docs,
       CAST(sum(n_tokens - n_tokens_removed) AS BIGINT) AS total_tokens,
       CAST(sum(n_tokens_removed) AS BIGINT) AS tokens_removed,
       {fround_sql("avg(quality_score)", 4)} AS avg_quality
FROM cleaned
JOIN quality USING (doc_id)
JOIN lang USING (doc_id)
WHERE quality_score >= {MIN_QUALITY}
GROUP BY pred_lang
ORDER BY pred_lang
"""


ORACLE["pipeline_prepare_corpus_v2"] = _prepare_corpus_v2_oracle()


def pipeline_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-extra-pass pipeline metrics via Spark's Observation API:
    the quality-gate pass is observed IN FLIGHT — total scored docs,
    docs passing the gate, mean quality — so the job that writes the
    output (a noop sink here) also feeds the data-quality dashboard
    with NO second scan of the corpus. The metrics are driver-side
    scalars by nature (one row per job); the oracle recomputes the
    same aggregates analytically, value-checking that the observed
    numbers match a full recount. The reference's only job 'metrics'
    are its output files (`worker.rs:138-143`); this is the
    engine-native upgrade a 100 TB pipeline needs."""
    import math

    from pyspark.sql import Observation

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scored = quality_scores(docs, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    obs = Observation("corpus_gate")
    observed = scored.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("quality_score") >= MIN_QUALITY).cast("bigint")
        ).alias("n_kept"),
        F.avg("quality_score").alias("avg_q"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    # mirror fround_sql(…, 4): pre-round at 8 absorbs summation-order
    # noise, floor at 4 makes the comparison exact
    avg_q = math.floor(round(m["avg_q"], 8) * 10000) / 10000
    return spark.createDataFrame(
        [(m["n_docs"], m["n_kept"], avg_q)],
        "n_docs bigint, n_kept bigint, avg_quality double",
    )


ORACLE["pipeline_observed_metrics"] = f"""
WITH quality AS (
  {_quality_sql()}
)
SELECT count(*) AS n_docs,
       CAST(sum(CASE WHEN quality_score >= {MIN_QUALITY} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept,
       {fround_sql("avg(quality_score)", 4)} AS avg_quality
FROM quality
"""


def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second capstone: the dedup funnel report a corpus owner reads
    before deleting anything — per source: total docs, exact-duplicate
    docs (non-survivors of the hash census), docs entangled in
    near-dup clusters (MinHash-LSH components), and the share of the
    corpus that survives both passes. Composes the session-memoized
    dedup artifacts (hash census, signature index, component
    labeling), so consuming it after any other dedup slug adds only
    the per-source rollup."""
    from mapreduce_rust_spark.operators.graph import dedup_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    full = fan_out(load_table(spark, sf_dir, "documents"))
    exact_survivors = exact_census_index(spark, sf_dir).select(
        F.col("keep_id").alias("doc_id"), F.lit(1).alias("_exact_keep")
    )
    clustered = dedup_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.lit(1).alias("_in_cluster")
    )
    joined = (
        docs.join(exact_survivors, "doc_id", "left")
        .join(clustered, "doc_id", "left")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_exact_keep").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact_dupes"),
            F.sum(F.coalesce("_in_cluster", F.lit(0))).cast("bigint").alias("n_near_clustered"),
            fround(
                F.sum(F.coalesce("_exact_keep", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("exact_survivor_share"),
        )
        .orderBy("source")
    )


def _dedup_report_oracle() -> str:
    from mapreduce_rust_spark.operators.graph import _components_oracle

    return f"""
WITH exact_survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
clustered AS (
  SELECT node AS doc_id FROM ({_components_oracle()})
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dupes,
       CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_clustered,
       {fround_sql("sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)", 4)} AS exact_survivor_share
FROM documents d
LEFT JOIN exact_survivors s USING (doc_id)
LEFT JOIN clustered c USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


ORACLE["pipeline_dedup_report"] = _dedup_report_oracle()


def delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation census: a deterministic
    forget-list (subject key % 97 == 0 — standing in for the DSAR
    queue) is anti-joined through every table that carries a subject
    key, reporting rows before / deleted / after per table. Each leg
    is ONE broadcast anti-join against the (always tiny relative to
    facts) forget set — the erasure job a 100 TB lakehouse runs
    nightly without ever shuffling the fact tables; the actual
    deletion is the same plan with the census swapped for a rewrite
    of the surviving partitions."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    forget = (
        ev.select(F.col("user_id").alias("k"))
        .unionByName(cust.select(F.col("c_custkey").alias("k")))
        .filter(F.col("k") % 97 == 0)
        .distinct()
    )

    def leg(df: DataFrame, key: str, table: str) -> DataFrame:
        before = df.agg(F.count(F.lit(1)).alias("n_before"))
        after = df.join(
            F.broadcast(forget), df[key] == forget["k"], "left_anti"
        ).agg(F.count(F.lit(1)).alias("n_after"))
        return before.crossJoin(after).select(
            F.lit(table).alias("table_name"),
            "n_before",
            (F.col("n_before") - F.col("n_after")).alias("n_deleted"),
            "n_after",
        )

    return (
        leg(ev, "user_id", "events")
        .unionByName(leg(orders, "o_custkey", "orders"))
        .unionByName(leg(cust, "c_custkey", "customer"))
        .orderBy("table_name")
    )


ORACLE["delete_propagation"] = """
WITH forget AS (
  SELECT DISTINCT k FROM (
    SELECT user_id AS k FROM events
    UNION ALL SELECT c_custkey FROM customer
  ) WHERE k % 97 = 0
),
legs AS (
  SELECT 'customer' AS table_name, count(*) AS n_before,
         count(*) FILTER (c_custkey IN (SELECT k FROM forget)) AS n_deleted
  FROM customer
  UNION ALL
  SELECT 'events', count(*),
         count(*) FILTER (user_id IN (SELECT k FROM forget))
  FROM events
  UNION ALL
  SELECT 'orders', count(*),
         count(*) FILTER (o_custkey IN (SELECT k FROM forget))
  FROM orders
)
SELECT table_name, n_before, CAST(n_deleted AS BIGINT) AS n_deleted,
       CAST(n_before - n_deleted AS BIGINT) AS n_after
FROM legs
ORDER BY table_name
"""


# re-exported from text_analysis (defined beside the score formula)
from mapreduce_rust_spark.operators.text_analysis import QUALITY_GATE_MIN  # noqa: E402


def pipeline_gate_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate ATTRITION funnel: the per-gate survivor ledger a corpus
    pipeline publishes with every run — how many documents (and
    whitespace tokens) survive each SEQUENTIAL filter: Gopher rules →
    quality score ≥ {QUALITY_GATE_MIN} → language-ID agrees with the
    labeled lang. Each gate's flag is a per-doc projection of the
    same scan (three doc_id joins, one aggregation), so the 100 TB
    cost is one corpus pass + doc_id-keyed joins. The dedup side of
    the funnel is ``pipeline_dedup_report``; this is the quality
    side, with per-gate attribution instead of a single combined
    keep."""
    from mapreduce_rust_spark.functions.text import tokenize_whitespace

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # All three gates are pure per-row expressions over the same
    # document row; the former four-way join on doc_id (three extra
    # corpus scans + three SortMergeJoins) is fused into ONE projection
    # (guide §2.4). Equivalent: doc_id is unique, all joins were inner,
    # and the two gate frames' row filters (gopher's zero-token drop,
    # quality's empty-text drop) are applied explicitly.
    ge = _gopher_exprs("text")
    qe = _quality_exprs("text")
    le = _langid_exprs("text")
    flags = (
        docs.filter((ge["_n_words"] > 0) & (qe["_n_chars"] > 0))
        .select(
            "doc_id",
            F.size(tokenize_whitespace("text")).cast("bigint").alias("n_toks"),
            ge["keep"].alias("g1"),
            (qe["quality_score"] >= QUALITY_GATE_MIN).cast("int").alias("g2"),
            (le["pred_lang"] == F.col("lang")).cast("int").alias("g3"),
        )
    )

    def stage(name, cond):
        return flags.filter(cond).agg(
            F.struct(
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_toks").alias("tokens"),
            ).alias("r")
        )

    stages = [
        stage("0_input", F.lit(True)),
        stage("1_gopher", F.col("g1") == 1),
        stage("2_quality", (F.col("g1") == 1) & (F.col("g2") == 1)),
        stage(
            "3_lang_agree",
            (F.col("g1") == 1) & (F.col("g2") == 1) & (F.col("g3") == 1),
        ),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionAll(s)
    return out.select("r.stage", "r.docs", "r.tokens").orderBy("stage")


def _gate_attrition_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import ORACLE as TA_ORACLE

    gopher = TA_ORACLE["text_gopher_quality"].strip()
    return rf"""
WITH gph AS ({gopher}),
q AS ({_quality_sql()}),
l AS ({_language_id_sql()}),
flags AS (
  SELECT d.doc_id,
         CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_toks,
         gph.keep AS g1,
         CAST(q.quality_score >= {QUALITY_GATE_MIN} AS INT) AS g2,
         CAST(l.pred_lang = d.lang AS INT) AS g3
  FROM documents d
  JOIN gph USING (doc_id) JOIN q USING (doc_id) JOIN l USING (doc_id)
)
SELECT '0_input' AS stage, count(*) AS docs,
       CAST(sum(n_toks) AS BIGINT) AS tokens FROM flags
UNION ALL
SELECT '1_gopher', count(*), CAST(sum(n_toks) AS BIGINT)
FROM flags WHERE g1 = 1
UNION ALL
SELECT '2_quality', count(*), CAST(sum(n_toks) AS BIGINT)
FROM flags WHERE g1 = 1 AND g2 = 1
UNION ALL
SELECT '3_lang_agree', count(*), CAST(sum(n_toks) AS BIGINT)
FROM flags WHERE g1 = 1 AND g2 = 1 AND g3 = 1
ORDER BY stage
"""


ORACLE["pipeline_gate_attrition"] = _gate_attrition_oracle()


_GATE_NAMES = ("gopher", "quality", "lang_agree")


def pipeline_gate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate REDUNDANCY matrix — the question after the attrition
    funnel: do the filters reject the SAME documents (one gate could
    be dropped) or different ones (each earns its keep)? Per gate
    pair: each side's rejection count, the joint rejections, the
    rejection-set Jaccard, and how many docs ONLY that pair's first
    gate catches (its unique value against the whole battery). The
    three per-doc flags are the identical projections
    ``pipeline_gate_attrition`` computes; every pairwise statistic
    folds into ONE aggregation over them (conditional sums — no
    pair-wise joins, no second scan), so the report is corpus-pass +
    one row of partial aggregates at any scale."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # Same gate fusion as ``pipeline_gate_attrition``: one projection
    # pass instead of a four-way doc_id self-join (guide §2.4).
    ge = _gopher_exprs("text")
    qe = _quality_exprs("text")
    le = _langid_exprs("text")
    flags = (
        docs.filter((ge["_n_words"] > 0) & (qe["_n_chars"] > 0))
        .select(
            (ge["keep"] == 0).cast("bigint").alias("r1"),
            ((qe["quality_score"] >= QUALITY_GATE_MIN).cast("int") == 0)
            .cast("bigint")
            .alias("r2"),
            (le["pred_lang"] != F.col("lang")).cast("bigint").alias("r3"),
        )
    )
    pairs = [(0, 1), (0, 2), (1, 2)]
    aggs = [F.sum(f"r{i + 1}").alias(f"rej{i}") for i in range(3)]
    for a, b in pairs:
        aggs.append(
            F.sum(F.col(f"r{a + 1}") * F.col(f"r{b + 1}")).alias(f"both{a}{b}")
        )
    for i in range(3):
        others = [j for j in range(3) if j != i]
        aggs.append(
            F.sum(
                F.col(f"r{i + 1}")
                * (1 - F.col(f"r{others[0] + 1}"))
                * (1 - F.col(f"r{others[1] + 1}"))
            ).alias(f"only{i}")
        )
    wide = flags.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(_GATE_NAMES[a]).alias("gate_a"),
                F.lit(_GATE_NAMES[b]).alias("gate_b"),
                F.col(f"rej{a}").alias("rej_a"),
                F.col(f"rej{b}").alias("rej_b"),
                F.col(f"both{a}{b}").alias("rej_both"),
                fround(
                    F.col(f"both{a}{b}")
                    / F.greatest(
                        F.col(f"rej{a}") + F.col(f"rej{b}") - F.col(f"both{a}{b}"),
                        F.lit(1),
                    ).cast("double"),
                    6,
                ).alias("overlap_jaccard"),
                F.col(f"only{a}").alias("only_gate_a"),
            )
            for a, b in pairs
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("gate_a", "gate_b")
    )


def _gate_overlap_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import ORACLE as TA_ORACLE

    gopher = TA_ORACLE["text_gopher_quality"].strip()
    pairs = [(0, 1), (0, 2), (1, 2)]
    sel = []
    for a, b in pairs:
        others = [j for j in range(3) if j != a]
        jac = fround_sql(
            f"both{a}{b} / CAST(greatest(rej{a} + rej{b} - both{a}{b}, 1) AS DOUBLE)",
            6,
        )
        sel.append(
            f"SELECT '{_GATE_NAMES[a]}' AS gate_a, '{_GATE_NAMES[b]}' AS gate_b,"
            f" rej{a} AS rej_a, rej{b} AS rej_b, both{a}{b} AS rej_both,"
            f" {jac} AS overlap_jaccard, only{a} AS only_gate_a FROM wide"
        )
    both_exprs = ", ".join(
        f"CAST(sum(r{a + 1} * r{b + 1}) AS BIGINT) AS both{a}{b}" for a, b in pairs
    )
    only_exprs = ", ".join(
        "CAST(sum(r{0} * (1 - r{1}) * (1 - r{2})) AS BIGINT) AS only{3}".format(
            i + 1, [j for j in range(3) if j != i][0] + 1,
            [j for j in range(3) if j != i][1] + 1, i
        )
        for i in range(3)
    )
    return rf"""
WITH gph AS ({gopher}),
q AS ({_quality_sql()}),
l AS ({_language_id_sql()}),
flags AS (
  SELECT CAST(gph.keep = 0 AS BIGINT) AS r1,
         CAST((q.quality_score >= {QUALITY_GATE_MIN}) = false AS BIGINT) AS r2,
         CAST(l.pred_lang != d.lang AS BIGINT) AS r3
  FROM documents d
  JOIN gph USING (doc_id) JOIN q USING (doc_id) JOIN l USING (doc_id)
),
wide AS (
  SELECT CAST(sum(r1) AS BIGINT) AS rej0, CAST(sum(r2) AS BIGINT) AS rej1,
         CAST(sum(r3) AS BIGINT) AS rej2,
         {both_exprs},
         {only_exprs}
  FROM flags
)
{" UNION ALL ".join(sel)}
ORDER BY gate_a, gate_b
"""


ORACLE["pipeline_gate_overlap"] = _gate_overlap_oracle()


def pipeline_rag_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RETRIEVAL-INDEX preparation: documents → overlapping
    token chunks (the ``corpus_chunk_overlap`` geometry) → exact chunk
    dedup by content hash (overlap windows repeat across templated
    docs; the index must store each passage once) → per-source
    manifest: docs in, chunks cut, unique chunks kept, dedup ratio,
    and the surviving token volume the embedder will be billed for.
    The chunker is per-row HOF work fused into the scan; dedup is one
    content-hash aggregation; everything after is key-sized — the
    whole pipeline is two shuffles regardless of corpus size."""
    from mapreduce_rust_spark.operators.corpus import (
        CHUNK_MIN_TAIL,
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE)),
        lambda s: (s == 0) | (n - s >= CHUNK_MIN_TAIL),
    )
    chunks = (
        docs.filter(n > 0)
        .select(
            "source",
            "doc_id",
            F.explode(
                F.transform(
                    starts,
                    lambda s: F.concat_ws(" ", F.slice(toks, s + 1, CHUNK_SIZE)),
                )
            ).alias("chunk"),
        )
        .select(
            "source",
            "doc_id",
            F.md5("chunk").alias("chash"),
            F.size(F.split("chunk", r"\s+")).cast("bigint").alias("chunk_toks"),
        )
    )
    return (
        chunks.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chash").alias("n_unique_chunks"),
            F.sum("chunk_toks").cast("bigint").alias("total_chunk_toks"),
        )
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "n_unique_chunks",
            fround(
                F.col("n_unique_chunks") / F.col("n_chunks").cast("double"), 6
            ).alias("unique_ratio"),
            "total_chunk_toks",
        )
        .orderBy("source")
    )


def _rag_prep_oracle() -> str:
    from mapreduce_rust_spark.operators.corpus import (
        CHUNK_MIN_TAIL,
        CHUNK_SIZE,
        CHUNK_STRIDE,
    )

    return rf"""
WITH d AS (
  SELECT source, doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS l
  FROM documents
),
chunks AS (
  SELECT source, doc_id,
         array_to_string(l[s + 1: s + {CHUNK_SIZE}], ' ') AS chunk
  FROM d,
       unnest(list_filter(range(0, len(l), {CHUNK_STRIDE}),
                          s -> s = 0 OR len(l) - s >= {CHUNK_MIN_TAIL})) AS u(s)
  WHERE len(l) > 0
),
hashed AS (
  SELECT source, doc_id, md5(chunk) AS chash,
         len(string_split(chunk, ' ')) AS chunk_toks
  FROM chunks
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       count(*) AS n_chunks,
       CAST(count(DISTINCT chash) AS BIGINT) AS n_unique_chunks,
       {fround_sql('count(DISTINCT chash) / CAST(count(*) AS DOUBLE)', 6)}
         AS unique_ratio,
       CAST(sum(chunk_toks) AS BIGINT) AS total_chunk_toks
FROM hashed
GROUP BY 1 ORDER BY 1
"""


ORACLE["pipeline_rag_prep"] = _rag_prep_oracle()


PIPE_DECON_NGRAM_K = 8  # exact-screen span width (tokens) — the grain eval leaks are screened at
_DECON_SCREENS = ("exact_ngram", "embedding", "fuzzy_minhash")


def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END decontamination pipeline — the report a training-data
    team reads before a launch: all THREE screen modalities (exact
    {K}-token n-gram collision, embedding max-cosine ≥ the
    ``corpus_decontaminate_embedding`` hi threshold, LSH-candidate +
    verified-Jaccard fuzzy MinHash) composed over the SAME held-out
    benchmark slice (ids ≡ 0 mod 20 below 1000 — the fixed-size eval
    set the minhash/embedding screens already pin; doc_id and vec_id
    are the same id space, see ``pipeline_rag_prep``), with the
    per-modality attrition census and the pairwise overlap matrix:
    who flags what, how much the screens agree (flag-set Jaccard),
    and what each modality catches that NO other screen does (its
    unique value — the column that justifies running it).

    Output: one row per screen pair (flag counts, joint flags,
    overlap Jaccard, screen-a-only count) with the corpus-wide census
    (n_corpus / flagged-by-any / flagged-by-all) repeated as summary
    columns — a single bounded 3-row frame.

    Scale shape at 100 TB: every screen is the corpus streaming
    map-side against a BROADCAST eval-set structure (span set,
    embedding matrix, banded index — each eval-set-sized by
    construction); per-screen flag sets are contamination-bounded, so
    the full-outer flag join and the single census aggregation touch
    only flagged ids, never the corpus (the corpus contributes one
    partial-agg count for n_corpus). Composition of
    ``decontaminate_ngram_overlap``/``corpus_decontaminate_embedding``
    /``corpus_decontaminate_minhash`` machinery (cleaning.py) — the
    ``pipeline_gate_overlap`` pattern applied to eval-leak screens."""
    from mapreduce_rust_spark.operators.cleaning import (
        DECON_EMB_CAP,
        DECON_EMB_HOLDOUT,
        DECON_EMB_THR_HI,
        _decon_mh_bench,
        corpus_decontaminate_minhash,
    )
    from mapreduce_rust_spark.operators.dedup import shingle_index

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    is_bench = F.expr(_decon_mh_bench("doc_id"))

    # screen 1 — exact K-token span collision vs the bench span set.
    # The k-span table is the session-memoized shingle index at this
    # k (identical build: same loader, same args) — shared with
    # ``decontaminate_ngram_overlap`` and consumed twice below
    # (bench side + corpus side), so the span tokenization pass runs
    # once per session instead of twice per invocation (guide §5,
    # the index-sharing pattern).
    sh = shingle_index(spark, sf_dir, k=PIPE_DECON_NGRAM_K)
    bench_spans = F.broadcast(sh.filter(is_bench).select("s").distinct())
    fe = (
        sh.filter(~is_bench)
        .join(bench_spans, "s")
        .select("doc_id")
        .distinct()
        .withColumn("e", F.lit(1))
    )

    # screen 2 — embedding max-cosine vs the bench vectors (same slice:
    # vec_id ≡ 0 mod DECON_EMB_HOLDOUT below DECON_EMB_CAP)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nrm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    emb = emb.withColumn("nrm", nrm)
    emb_bench = (F.col("vec_id") % DECON_EMB_HOLDOUT == 0) & (
        F.col("vec_id") < DECON_EMB_CAP
    )
    bvec = emb.filter(emb_bench).select(
        F.col("v").alias("bv"), F.col("nrm").alias("bnrm")
    )
    dot = F.aggregate(
        F.zip_with("v", "bv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    fm = (
        emb.filter(~emb_bench)
        .crossJoin(F.broadcast(bvec))
        .select("vec_id", (dot / (F.col("nrm") * F.col("bnrm"))).alias("sim"))
        .groupBy("vec_id")
        .agg(F.max("sim").alias("maxsim"))
        .filter(F.col("maxsim") >= DECON_EMB_THR_HI)
        .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("m"))
    )

    # screen 3 — fuzzy MinHash (LSH candidates + verified Jaccard):
    # reuse the registered operator's flagged-doc output wholesale
    fg = (
        corpus_decontaminate_minhash(spark, sf_dir)
        .select("doc_id")
        .withColumn("g", F.lit(1))
    )

    flags = (
        fe.join(fm, ["doc_id"], "full")
        .join(fg, ["doc_id"], "full")
        .na.fill(0, ["e", "m", "g"])
    )
    s = {c: F.coalesce(F.sum(c), F.lit(0)).cast("bigint") for c in "emg"}
    only = {
        c: F.coalesce(
            F.sum(
                F.col(c)
                * (1 - F.col(o1))
                * (1 - F.col(o2))
            ),
            F.lit(0),
        ).cast("bigint")
        for c, o1, o2 in (("e", "m", "g"), ("m", "e", "g"), ("g", "e", "m"))
    }
    wide = flags.agg(
        s["e"].alias("fe"),
        s["m"].alias("fm"),
        s["g"].alias("fg"),
        F.coalesce(F.sum(F.col("e") * F.col("m")), F.lit(0)).cast("bigint").alias("fem"),
        F.coalesce(F.sum(F.col("e") * F.col("g")), F.lit(0)).cast("bigint").alias("feg"),
        F.coalesce(F.sum(F.col("m") * F.col("g")), F.lit(0)).cast("bigint").alias("fmg"),
        only["e"].alias("oe"),
        only["m"].alias("om"),
        only["g"].alias("og"),
        F.count(F.lit(1)).alias("f_any"),
        F.coalesce(F.sum(F.col("e") * F.col("m") * F.col("g")), F.lit(0))
        .cast("bigint")
        .alias("f_all"),
    )
    ncorp = docs.filter(~is_bench).agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    pairs = [("e", "m"), ("e", "g"), ("m", "g")]
    names = dict(zip("emg", _DECON_SCREENS))
    both = {("e", "m"): "fem", ("e", "g"): "feg", ("m", "g"): "fmg"}
    rows = F.array(
        *[
            F.struct(
                F.lit(names[a]).alias("screen_a"),
                F.lit(names[b]).alias("screen_b"),
                F.col(f"f{a}").alias("flag_a"),
                F.col(f"f{b}").alias("flag_b"),
                F.col(both[(a, b)]).alias("flag_both"),
                fround(
                    F.col(both[(a, b)])
                    / F.greatest(
                        F.col(f"f{a}") + F.col(f"f{b}") - F.col(both[(a, b)]),
                        F.lit(1),
                    ).cast("double"),
                    6,
                ).alias("overlap_jaccard"),
                F.col(f"o{a}").alias("only_screen_a"),
            )
            for a, b in pairs
        ]
    )
    return (
        wide.crossJoin(F.broadcast(ncorp))
        .select(
            F.explode(rows).alias("r"), "n_corpus", "f_any", "f_all"
        )
        .select(
            "r.*",
            "n_corpus",
            F.col("f_any").alias("flag_any"),
            F.col("f_all").alias("flag_all"),
        )
        .orderBy("screen_a", "screen_b")
    )


pipeline_decontaminate.__doc__ = pipeline_decontaminate.__doc__.format(
    K=PIPE_DECON_NGRAM_K
)


def _pipeline_decontaminate_oracle() -> str:
    from mapreduce_rust_spark.operators.cleaning import (
        DECON_EMB_CAP,
        DECON_EMB_HOLDOUT,
        DECON_EMB_THR_HI,
        DECON_MH_THR,
        _decon_mh_bench,
    )
    from mapreduce_rust_spark.operators.dedup import (
        MINHASH_PRIME,
        ROWS_PER_BAND,
        _minhash_params,
        _SHINGLE_SQL,
        _TOK_SQL,
    )

    leads = " || ' ' || ".join(
        f"lead(w,{i}) OVER win" for i in range(1, PIPE_DECON_NGRAM_K)
    )
    params = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_params())
    )
    pair_rows = []
    names = dict(zip("emg", _DECON_SCREENS))
    both = {("e", "m"): "fem", ("e", "g"): "feg", ("m", "g"): "fmg"}
    for a, b in [("e", "m"), ("e", "g"), ("m", "g")]:
        jac = fround_sql(
            f"{both[(a, b)]} / CAST(greatest(f{a} + f{b} - {both[(a, b)]}, 1)"
            " AS DOUBLE)",
            6,
        )
        pair_rows.append(
            f"SELECT '{names[a]}' AS screen_a, '{names[b]}' AS screen_b,"
            f" f{a} AS flag_a, f{b} AS flag_b, {both[(a, b)]} AS flag_both,"
            f" {jac} AS overlap_jaccard, o{a} AS only_screen_a,"
            " n_corpus, f_any AS flag_any, f_all AS flag_all"
            " FROM agg, ncorp"
        )
    union = "\nUNION ALL\n".join(pair_rows)
    return f"""
WITH tok AS ({_TOK_SQL}),
spans8 AS (
  SELECT DISTINCT doc_id, w || ' ' || {leads} AS s
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
cs8 AS (SELECT doc_id, s FROM spans8
        WHERE s IS NOT NULL AND NOT ({_decon_mh_bench("doc_id")})),
bs8 AS (SELECT DISTINCT s FROM spans8
        WHERE s IS NOT NULL AND ({_decon_mh_bench("doc_id")})),
fe_ids AS (SELECT DISTINCT doc_id, 1 AS e FROM cs8 JOIN bs8 USING (s)),
ev AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
bvec AS (SELECT v AS bv, nrm AS bnrm FROM ev
         WHERE vec_id % {DECON_EMB_HOLDOUT} = 0 AND vec_id < {DECON_EMB_CAP}),
fm_ids AS (
  SELECT vec_id AS doc_id, 1 AS m
  FROM (SELECT c.vec_id,
               max(list_sum(list_transform(range(1, len(c.v) + 1),
                   i -> c.v[i] * b.bv[i])) / (c.nrm * b.bnrm)) AS maxsim
        FROM (SELECT * FROM ev
              WHERE NOT (vec_id % {DECON_EMB_HOLDOUT} = 0
                         AND vec_id < {DECON_EMB_CAP})) c, bvec b
        GROUP BY 1) x
  WHERE maxsim >= {DECON_EMB_THR_HI}
),
ds AS ({_SHINGLE_SQL}),
h AS (SELECT doc_id, {hash64_sql('s')} AS h FROM ds),
params(j, a, b) AS (VALUES {params}),
sig AS MATERIALIZED (
  SELECT doc_id, j,
         min((a * (h % {MINHASH_PRIME}) + b) % {MINHASH_PRIME}) AS mh
  FROM h CROSS JOIN params GROUP BY doc_id, j
),
band AS MATERIALIZED (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band,
         array_to_string(list(mh ORDER BY j), '-') AS sig
  FROM sig GROUP BY doc_id, j // {ROWS_PER_BAND}
),
cand AS (
  SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
  FROM band c JOIN band b ON b.band = c.band AND b.sig = c.sig
  WHERE ({_decon_mh_bench("b.doc_id")})
    AND NOT ({_decon_mh_bench("c.doc_id")})
),
sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT c.doc_id AS cid, b.doc_id AS bid, count(*) AS i
  FROM ds c
  JOIN ds b USING (s)
  JOIN cand ON cand.cid = c.doc_id AND cand.bid = b.doc_id
  GROUP BY 1, 2
),
fg_ids AS (
  SELECT DISTINCT cid AS doc_id, 1 AS g
  FROM inter
  JOIN sz s1 ON s1.doc_id = cid
  JOIN sz s2 ON s2.doc_id = bid
  WHERE i * 1.0 / (s1.n + s2.n - i) >= {DECON_MH_THR}
),
flags AS (
  SELECT coalesce(e, 0) AS e, coalesce(m, 0) AS m, coalesce(g, 0) AS g
  FROM fe_ids FULL JOIN fm_ids USING (doc_id) FULL JOIN fg_ids USING (doc_id)
),
agg AS (
  SELECT CAST(coalesce(sum(e), 0) AS BIGINT) AS fe,
         CAST(coalesce(sum(m), 0) AS BIGINT) AS fm,
         CAST(coalesce(sum(g), 0) AS BIGINT) AS fg,
         CAST(coalesce(sum(e * m), 0) AS BIGINT) AS fem,
         CAST(coalesce(sum(e * g), 0) AS BIGINT) AS feg,
         CAST(coalesce(sum(m * g), 0) AS BIGINT) AS fmg,
         CAST(coalesce(sum(e * (1 - m) * (1 - g)), 0) AS BIGINT) AS oe,
         CAST(coalesce(sum(m * (1 - e) * (1 - g)), 0) AS BIGINT) AS om,
         CAST(coalesce(sum(g * (1 - e) * (1 - m)), 0) AS BIGINT) AS og,
         CAST(count(*) AS BIGINT) AS f_any,
         CAST(coalesce(sum(e * m * g), 0) AS BIGINT) AS f_all
  FROM flags
),
ncorp AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents
          WHERE NOT ({_decon_mh_bench("doc_id")}))
{union}
ORDER BY screen_a, screen_b
"""


ORACLE["pipeline_decontaminate"] = _pipeline_decontaminate_oracle()


QUERIES = {
    "pipeline_decontaminate": pipeline_decontaminate,
    "pipeline_rag_prep": pipeline_rag_prep,
    "pipeline_prepare_corpus": pipeline_prepare_corpus,
    "pipeline_prepare_corpus_v2": pipeline_prepare_corpus_v2,
    "pipeline_gate_attrition": pipeline_gate_attrition,
    "pipeline_gate_overlap": pipeline_gate_overlap,
    "pipeline_dedup_report": pipeline_dedup_report,
    "pipeline_observed_metrics": pipeline_observed_metrics,
    "delete_propagation": delete_propagation,
}
