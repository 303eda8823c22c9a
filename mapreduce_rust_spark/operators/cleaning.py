"""Corpus cleaning operators: PII redaction, repetition scoring, and
prefix (boilerplate) dedup — the scrub-before-training passes of an
LLM data pipeline.

The reference has no text processing beyond whitespace word count
(``mr_app/src/client.rs:3-21``); this whole family is engine
extension surface (SURVEY.md §2c). Every operator is pure
``pyspark.sql.functions`` — regex/array work stays JVM-side inside
whole-stage codegen, nothing drops to Python.

Scale notes:

* ``text_pii_redact`` — embarrassingly parallel map over documents:
  NO shuffle at all; the regex scan fuses with the parquet read, so
  at 100 TB the cost is exactly one pass over the text bytes.
* ``text_repetition`` — token/bigram statistics via array expressions
  per row (zip_with over the token array — no per-token explode row
  blowup for the n-gram construction), one explode + aggregation for
  the bigram frequency profile keyed by (doc_id, bigram): high
  cardinality, even spread.
* ``dedup_prefix`` — near-boilerplate detection by shared 64-char
  prefix: one hash aggregation on the prefix hash. The 64-byte
  prefix (not the full text) is what shuffles, so the shuffle volume
  is ~64 B/doc regardless of document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql, single_partition
from mapreduce_rust_spark.functions.text import tokenize_whitespace
from mapreduce_rust_spark.indexes import session_index
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret identically: character classes, bounded repeats, literals.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+1-555-[0-9]{4}"


def redact_pii(df: DataFrame, text_col: str) -> DataFrame:
    """Append ``{text_col}_redacted``, ``n_emails``, ``n_phones``:
    regex-scrubbed text plus per-doc match counts. Single map pass."""
    c = F.col(text_col)
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)))
        .withColumn("n_phones", F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0)))
        .withColumn(
            f"{text_col}_redacted",
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
            ),
        )
    )


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents. The synthetic corpus carries no real
    PII, so a deterministic email+phone per doc is injected first
    (same expression in the oracle) — the check then proves the
    detection counts AND the redacted bytes (via md5) agree."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@mail.example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    red = redact_pii(docs, "text")
    return red.select(
        "doc_id", "n_emails", "n_phones", F.md5("text_redacted").alias("redacted_hash")
    )


ORACLE["text_pii_redact"] = rf"""
WITH synth AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail.example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
FROM synth
"""


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc repetition profile: (id, n_tokens, n_distinct,
    distinct_ratio, rep_ratio) where rep_ratio = frequency share of
    the single most repeated bigram — the cheap "is this document
    degenerate/boilerplate" training-data quality signal (high
    rep_ratio ⇒ lists, templates, generation loops)."""
    toks = tokenize_whitespace(text_col)
    base = df.select(F.col(id_col), toks.alias("t"))
    bigrams = F.when(
        F.size("t") >= 2,
        F.zip_with(
            F.slice("t", 1, F.size("t") - 1),
            F.slice("t", 2, F.size("t") - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg_counts = (
        base.select(id_col, F.explode(bigrams).alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg_stats = bg_counts.groupBy(id_col).agg(
        F.max("c").alias("max_bg"), F.sum("c").alias("n_bg")
    )
    tok_stats = base.select(
        id_col,
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    return tok_stats.join(bg_stats, id_col, "left").select(
        id_col,
        "n_tokens",
        "n_distinct",
        fround(
            F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("distinct_ratio"),
        fround(
            F.col("max_bg").cast("double") / F.col("n_bg").cast("double"), 6
        ).alias("rep_ratio"),
    )


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return repetition_scores(docs, "doc_id", "text")


ORACLE["text_repetition"] = rf"""
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
bg AS (
  SELECT doc_id,
         tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS bigram
  FROM toks
),
bgc AS (
  SELECT doc_id, bigram, count(*) AS c
  FROM bg WHERE bigram IS NOT NULL GROUP BY 1, 2
),
bstat AS (
  SELECT doc_id, max(c) AS max_bg, sum(c) AS n_bg FROM bgc GROUP BY doc_id
),
stats AS (
  SELECT doc_id, len(l) AS n_tokens, len(list_distinct(l)) AS n_distinct
  FROM lists
)
SELECT s.doc_id, s.n_tokens, s.n_distinct,
       {fround_sql("CAST(s.n_distinct AS DOUBLE) / CAST(s.n_tokens AS DOUBLE)", 6)} AS distinct_ratio,
       {fround_sql("CAST(b.max_bg AS DOUBLE) / CAST(b.n_bg AS DOUBLE)", 6)} AS rep_ratio
FROM stats s LEFT JOIN bstat b ON s.doc_id = b.doc_id
"""


def prefix_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str, prefix_len: int = 64
) -> DataFrame:
    """Boilerplate clusters: docs sharing the same ``prefix_len``-char
    prefix. Returns (prefix_hash, n_docs, keeper_id) for groups of
    ≥ 2 — ``keeper_id`` (min id) survives, the rest are drop
    candidates. Shuffles only the prefix hash, never the body."""
    pref = F.md5(F.substring(F.col(text_col), 1, prefix_len))
    return (
        df.groupBy(pref.alias("prefix_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") >= 2)
    )


def dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return prefix_duplicate_groups(docs, "doc_id", "text", 64)


ORACLE["dedup_prefix"] = """
SELECT md5(substr(text, 1, 64)) AS prefix_hash,
       count(*) AS n_docs, min(doc_id) AS keeper_id
FROM documents
GROUP BY 1 HAVING count(*) >= 2
"""


def ngram_overlap_report(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    c_spans: DataFrame | None = None,
    b_spans: DataFrame | None = None,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, how many
    distinct k-token spans it shares with any document of the
    held-out/benchmark set — the screen run before training so eval
    data doesn't leak into the corpus. Returns (id, n_shared_spans,
    n_bench_docs) for contaminated docs.

    The benchmark side is small by construction (an eval suite), so
    its span set is broadcast: the corpus span stream joins against
    it map-side with NO shuffle of corpus data; the only shuffle is
    the final per-doc aggregate of matched spans."""
    from mapreduce_rust_spark.operators.dedup import shingle_sets

    if c_spans is None:
        c_spans = shingle_sets(corpus, id_col, text_col, k)
    if b_spans is None:
        b_spans = shingle_sets(bench, id_col, text_col, k)
    b_spans = F.broadcast(
        b_spans.select(F.col(id_col).alias("_bid"), F.col("s"))
    )
    hits = c_spans.join(b_spans, "s").filter(F.col(id_col) != F.col("_bid"))
    return (
        hits.groupBy(id_col)
        .agg(
            F.countDistinct("s").alias("n_shared_spans"),
            F.countDistinct("_bid").alias("n_bench_docs"),
        )
        .orderBy(F.col("n_shared_spans").desc(), id_col)
        .limit(100)
    )


def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination screen of the documents corpus against a
    deterministic ~6% hash-held-out "benchmark" slice of itself.

    Both span streams come from the session-memoized k=8 shingle
    index (shingle_sets is per-row, so filtering the index to the
    bench slice equals shingling the filtered corpus) — shared with
    ``pipeline_decontaminate`` screen 1, one span tokenization pass
    per session (guide §5)."""
    from mapreduce_rust_spark.operators.dedup import shingle_index

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bench = docs.filter(F.md5(F.col("doc_id").cast("string")) < "1")
    idx = shingle_index(spark, sf_dir, k=8)
    return ngram_overlap_report(
        docs,
        bench,
        "doc_id",
        "text",
        k=8,
        c_spans=idx,
        b_spans=idx.filter(F.md5(F.col("doc_id").cast("string")) < "1"),
    )


ORACLE["decontaminate_ngram_overlap"] = """
WITH tok AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
  FROM (
    SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS l
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
  ) x
),
spans AS (
  SELECT DISTINCT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
           || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win
           || ' ' || lead(w,5) OVER win || ' ' || lead(w,6) OVER win
           || ' ' || lead(w,7) OVER win AS s
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
cs AS (SELECT doc_id, s FROM spans WHERE s IS NOT NULL),
bs AS (SELECT doc_id AS bid, s FROM cs
       WHERE md5(CAST(doc_id AS VARCHAR)) < '1')
SELECT c.doc_id, count(DISTINCT c.s) AS n_shared_spans,
       count(DISTINCT b.bid) AS n_bench_docs
FROM cs c JOIN bs b ON c.s = b.s AND c.doc_id <> b.bid
GROUP BY c.doc_id
ORDER BY n_shared_spans DESC, doc_id
LIMIT 100
"""


DECON_EMB_HOLDOUT = 20  # hash spacing of the held-out "benchmark" ids
DECON_EMB_CAP = 1000  # bench ids drawn from [0, CAP) ONLY — an eval set is FIXED-SIZE; a fraction-of-corpus bench made the screen quadratic (sf1 sweep measured exponent 1.89 before this cap, 50 bench vecs after)
DECON_EMB_THR_HI = 0.4  # flag threshold (calibrated to the synthetic corpus: its max-sim p99 ≈ 0.43; with real embeddings this is the usual 0.9-0.95 knob)
DECON_EMB_THR_LO = 0.3


def corpus_decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination — the semantic sibling of
    ``decontaminate_ngram_overlap``: instead of exact 8-token span
    collisions, each corpus vector is screened by its MAX COSINE
    against a deterministic FIXED-SIZE held-out "benchmark" slice
    (ids ≡ 0 mod {DECON_EMB_HOLDOUT} below {DECON_EMB_CAP} — an eval
    set does not grow with the corpus; the id cap is what keeps the
    screen LINEAR, see DECON_EMB_CAP). The technique behind
    paraphrase-robust eval decontamination — n-gram screens miss
    reworded test questions; cosine against the eval set's embeddings
    catches them. Plan shape: the benchmark side is eval-set-sized →
    ``broadcast`` +
    nested-loop scoring (the same corpus×bench asymmetry as the
    n-gram screen), one zip_with dot per pair JVM-side, then a
    per-vector max and a per-label census. At 100 TB the corpus side
    streams map-only; only the |labels|-row report shuffles. Output:
    per label, vectors screened, flagged counts at the
    {DECON_EMB_THR_HI}/{DECON_EMB_THR_LO} thresholds, and the
    max/avg max-sim — the calibration curve for choosing the knob."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("e"),
    )
    nrm = F.sqrt(
        F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)
    )
    emb = emb.withColumn("nrm", nrm)
    is_bench = (F.col("vec_id") % DECON_EMB_HOLDOUT == 0) & (
        F.col("vec_id") < DECON_EMB_CAP
    )
    bench = emb.filter(is_bench).select(
        F.col("e").alias("be"), F.col("nrm").alias("bnrm")
    )
    corp = emb.filter(~is_bench)
    dot = F.aggregate(
        F.zip_with("e", "be", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sims = (
        corp.crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            "label",
            (dot / (F.col("nrm") * F.col("bnrm"))).alias("sim"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("sim").alias("maxsim"))
    )
    return (
        sims.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(
                (F.col("maxsim") >= DECON_EMB_THR_HI).cast("bigint")
            ).alias("n_flagged_hi"),
            F.sum(
                (F.col("maxsim") >= DECON_EMB_THR_LO).cast("bigint")
            ).alias("n_flagged_lo"),
            fround(F.max("maxsim"), 6).alias("max_maxsim"),
            fround(F.avg("maxsim"), 6).alias("avg_maxsim"),
        )
        .orderBy("label")
    )


ORACLE["corpus_decontaminate_embedding"] = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
bench AS (SELECT e AS be, nrm AS bnrm FROM e
          WHERE vec_id % {DECON_EMB_HOLDOUT} = 0
            AND vec_id < {DECON_EMB_CAP}),
sims AS (
  SELECT c.vec_id, c.label,
         max(list_sum(list_transform(range(1, len(c.e) + 1),
             i -> c.e[i] * b.be[i])) / (c.nrm * b.bnrm)) AS maxsim
  FROM (SELECT * FROM e
        WHERE NOT (vec_id % {DECON_EMB_HOLDOUT} = 0
                   AND vec_id < {DECON_EMB_CAP})) c, bench b
  GROUP BY 1, 2
)
SELECT label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN maxsim >= {DECON_EMB_THR_HI} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged_hi,
       CAST(sum(CASE WHEN maxsim >= {DECON_EMB_THR_LO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged_lo,
       {fround_sql("max(maxsim)", 6)} AS max_maxsim,
       {fround_sql("avg(maxsim)", 6)} AS avg_maxsim
FROM sims GROUP BY label ORDER BY label
"""


KFOLDS = 5  # cross-validation fold count


def features_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUPED k-fold assignment + balance audit: folds
    are a pure content-hash of the GROUP key (customer), never of the
    row — so every order of a customer lands in one fold and the
    "same user in train and validation" leak is impossible by
    construction, reproducible across runs/engines/retries (the same
    property ``stratified_hash_sample`` exploits; rand() splits have
    neither). The audit makes the guarantees measurable per fold:
    customer/order/revenue balance (hash folds should be ~1/k each),
    the BUILDING-segment share (hash assignment preserves stratum
    proportions without explicit stratification — this column is the
    evidence), and n_leaked, the count of customers observed in >1
    fold on the ORDER side (provably 0; the audit exists so a future
    refactor to row-level hashing fails loudly). Fold assignment is a
    map-side column at 100 TB — zero shuffle; the audit is two
    partial-agg shuffles on a k-row key plus a 1-row broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def fold(key):
        return (
            F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
            .cast("bigint")
            % KFOLDS
        ).alias("fold")

    cf = cust.select(
        fold(F.col("c_custkey")),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("bld"),
    ).groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_customers"),
        fround(F.avg("bld"), 4).alias("pct_building"),
    )
    of = orders.select(
        fold(F.col("o_custkey")), "o_custkey", "o_totalprice"
    )
    ofa = of.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_orders"),
        fround(F.sum("o_totalprice"), 2).alias("total_revenue"),
    )
    leaked = (
        of.select("o_custkey", "fold")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("nf"))
        .agg(
            F.sum((F.col("nf") > 1).cast("bigint")).alias("n_leaked")
        )
    )
    return (
        cf.join(ofa, "fold")
        .crossJoin(F.broadcast(leaked))
        .select(
            "fold",
            "n_customers",
            "n_orders",
            "total_revenue",
            "pct_building",
            "n_leaked",
        )
        .orderBy("fold")
    )


ORACLE["features_kfold_assign"] = f"""
WITH cf AS (
  SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
           % {KFOLDS} AS fold,
         count(*) AS n_customers,
         {fround_sql("avg(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END)", 4)}
           AS pct_building
  FROM customer GROUP BY 1
),
o AS (
  SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT
           % {KFOLDS} AS fold,
         o_custkey, o_totalprice
  FROM orders
),
ofa AS (
  SELECT fold, count(*) AS n_orders,
         {fround_sql("sum(o_totalprice)", 2)} AS total_revenue
  FROM o GROUP BY 1
),
leaked AS (
  SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
  FROM (SELECT o_custkey, count(DISTINCT fold) AS nf FROM o GROUP BY 1)
)
SELECT cf.fold, cf.n_customers, ofa.n_orders, ofa.total_revenue,
       cf.pct_building, leaked.n_leaked
FROM cf JOIN ofa ON ofa.fold = cf.fold CROSS JOIN leaked
ORDER BY cf.fold
"""


HASH_BUCKETS = 32  # feature-hashing dimensionality (2^5 — small enough that the collision census is exercised by the ~41-feature vocabulary)


def features_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009 — Vowpal Wabbit's
    feature space): categorical features hash straight into a fixed
    {HASH_BUCKETS}-dim vector with a second hash choosing ±1 sign, so
    the feature map needs NO vocabulary, no fit step, and no driver
    state — the only schema a 100 TB categorical stream can afford.
    Features here: customer nation, market segment, and account-
    balance band. Output: per-bucket signed counts + collision census
    (how many distinct raw features share the bucket — the price of
    the trick). One explode + one groupBy on bucket ids; md5-derived
    hashes make every cell value-checkable in DuckDB."""
    cust = load_table(spark, sf_dir, "customer")
    feats = cust.select(
        F.explode(
            F.array(
                F.concat(F.lit("nation="), F.col("c_nationkey").cast("string")),
                F.concat(F.lit("segment="), F.col("c_mktsegment")),
                F.concat(
                    F.lit("balband="),
                    F.floor(F.col("c_acctbal") / 1000).cast("string"),
                ),
            )
        ).alias("feat")
    )
    h = F.conv(F.substring(F.md5("feat"), 1, 15), 16, 10).cast("bigint")
    sign = F.when(
        F.conv(F.substring(F.md5(F.concat(F.lit("s"), F.col("feat"))), 1, 1), 16, 10)
        % 2
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        feats.select(
            (h % HASH_BUCKETS).alias("bucket"),
            sign.alias("sign"),
            "feat",
        )
        .groupBy("bucket")
        .agg(
            F.sum("sign").alias("signed_count"),
            F.count(F.lit(1)).alias("n_values"),
            F.countDistinct("feat").alias("n_distinct_feats"),
        )
        .orderBy("bucket")
    )


ORACLE["features_hashing_trick"] = f"""
WITH feats AS (
  SELECT unnest([
    'nation=' || CAST(c_nationkey AS VARCHAR),
    'segment=' || c_mktsegment,
    'balband=' || CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR)
  ]) AS feat
  FROM customer
)
SELECT ('0x' || substr(md5(feat), 1, 15))::BIGINT % {HASH_BUCKETS} AS bucket,
       CAST(sum(CASE WHEN ('0x' || substr(md5('s' || feat), 1, 1))::BIGINT % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS signed_count,
       count(*) AS n_values,
       CAST(count(DISTINCT feat) AS BIGINT) AS n_distinct_feats
FROM feats GROUP BY 1 ORDER BY 1
"""


TE_SMOOTHING = 20.0  # pseudo-observations pulled toward the global prior


def features_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target (mean) encoding — the leakage-safe way to turn
    a high-cardinality categorical into one numeric feature: encode
    category c as (n_c·rate_c + m·prior)/(n_c + m), shrinking rare
    categories toward the global prior so a 3-row category can't
    memorize its labels (micci-barreca 2001). Target here: customer
    is "high-value" (acctbal above the global mean); category:
    nation. Plan: one scan → one category-keyed partial agg, prior
    joined back as a broadcast one-row frame — the fit step a 100 TB
    feature pipeline can afford (no vocabulary on the driver, no
    per-row Python)."""
    cust = load_table(spark, sf_dir, "customer")
    prior = cust.agg(
        F.avg("c_acctbal").alias("bal_mean"),
    )
    labeled = cust.crossJoin(F.broadcast(prior)).select(
        "c_nationkey",
        (F.col("c_acctbal") > F.col("bal_mean")).cast("int").alias("y"),
    )
    g = labeled.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("rate"),
    )
    gp = g.crossJoin(
        F.broadcast(labeled.agg(F.avg("y").alias("prior_rate")))
    )
    return (
        gp.select(
            "c_nationkey",
            "n",
            fround("rate", 6).alias("raw_rate"),
            fround(
                (F.col("n") * F.col("rate") + TE_SMOOTHING * F.col("prior_rate"))
                / (F.col("n") + TE_SMOOTHING),
                6,
            ).alias("encoded"),
        )
        .orderBy("c_nationkey")
    )


ORACLE["features_target_encoding"] = f"""
WITH labeled AS (
  SELECT c_nationkey,
         CASE WHEN c_acctbal > (SELECT avg(c_acctbal) FROM customer)
              THEN 1 ELSE 0 END AS y
  FROM customer
),
g AS (
  SELECT c_nationkey, count(*) AS n, avg(y) AS rate
  FROM labeled GROUP BY 1
)
SELECT c_nationkey, n,
       {fround_sql("rate", 6)} AS raw_rate,
       {fround_sql(f"(n * rate + {TE_SMOOTHING} * (SELECT avg(y) FROM labeled)) / (n + {TE_SMOOTHING})", 6)} AS encoded
FROM g ORDER BY c_nationkey
"""


def features_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value — credit-scoring's
    standard categorical screen: WoE_i = ln((good_i/G)/(bad_i/B))
    measures how much segment i shifts the odds; IV_i =
    (good_i/G − bad_i/B)·WoE_i sums to the variable's total
    predictive power (rule of thumb: IV < 0.02 useless, > 0.5
    suspicious). Same high-value target as the target encoder,
    grouped by market segment; +0.5 Laplace smoothing keeps empty
    cells finite. One scan, one tiny agg, two broadcast scalars —
    nothing here grows with data size except the single partial
    aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    prior = cust.agg(F.avg("c_acctbal").alias("bal_mean"))
    g = (
        cust.crossJoin(F.broadcast(prior))
        .select(
            "c_mktsegment",
            (F.col("c_acctbal") > F.col("bal_mean")).cast("int").alias("y"),
        )
        .groupBy("c_mktsegment")
        .agg(
            (F.sum("y") + F.lit(0.5)).alias("good"),
            (F.sum(F.lit(1) - F.col("y")) + F.lit(0.5)).alias("bad"),
        )
    )
    tot = g.agg(F.sum("good").alias("gt"), F.sum("bad").alias("bt"))
    woe = (
        F.log((F.col("good") / F.col("gt")) / (F.col("bad") / F.col("bt")))
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "c_mktsegment",
            (F.col("good") - F.lit(0.5)).cast("bigint").alias("n_good"),
            (F.col("bad") - F.lit(0.5)).cast("bigint").alias("n_bad"),
            fround(woe, 6).alias("woe"),
            fround(
                (F.col("good") / F.col("gt") - F.col("bad") / F.col("bt"))
                * woe,
                6,
            ).alias("iv_contrib"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE["features_woe_iv"] = f"""
WITH labeled AS (
  SELECT c_mktsegment,
         CASE WHEN c_acctbal > (SELECT avg(c_acctbal) FROM customer)
              THEN 1 ELSE 0 END AS y
  FROM customer
),
g AS (
  SELECT c_mktsegment,
         sum(y) + 0.5 AS good,
         sum(1 - y) + 0.5 AS bad
  FROM labeled GROUP BY 1
),
tot AS (SELECT sum(good) AS gt, sum(bad) AS bt FROM g)
SELECT c_mktsegment,
       CAST(good - 0.5 AS BIGINT) AS n_good,
       CAST(bad - 0.5 AS BIGINT) AS n_bad,
       {fround_sql("ln((good / gt) / (bad / bt))", 6)} AS woe,
       {fround_sql("(good / gt - bad / bt) * ln((good / gt) / (bad / bt))", 6)} AS iv_contrib
FROM g CROSS JOIN tot
ORDER BY c_mktsegment
"""


def features_scaler_fit_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe feature scaling — the fit/transform split every
    training pipeline must get right: standard-scaler (mean/std) and
    min-max parameters are fit on the TRAIN split ONLY (deterministic
    80/20 content-hash split on c_custkey, same convention as
    ``corpus_split_assign``), then applied to the held-out VAL split.
    Fitting on the full table leaks val statistics into training —
    the classic silent bug this operator's shape forbids by
    construction. Output: per-nation VAL-split census of the scaled
    feature (z-mean far from 0 on a slice = drift between that slice
    and the train distribution). Plan: one train-side aggregation to
    a broadcast 1-row parameter frame, one map-side transform of val
    — at 100 TB the scaler "model" is still one row."""
    cust = load_table(spark, sf_dir, "customer")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("split:"), F.col("c_custkey").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    tagged = cust.withColumn("is_train", (h % 1000 < 800).cast("int"))
    params = tagged.filter(F.col("is_train") == 1).agg(
        F.avg("c_acctbal").alias("mu"),
        F.stddev_samp("c_acctbal").alias("sigma"),
        F.min("c_acctbal").alias("lo"),
        F.max("c_acctbal").alias("hi"),
    )
    val = tagged.filter(F.col("is_train") == 0).crossJoin(F.broadcast(params))
    # degenerate-train guard: a constant feature (sigma=0, hi=lo) must
    # not become an ANSI divide-by-zero — floor both denominators,
    # identically in the oracle (forecast_ensemble_basic convention)
    z = (F.col("c_acctbal") - F.col("mu")) / F.greatest(F.col("sigma"), F.lit(1e-12))
    mm = (F.col("c_acctbal") - F.col("lo")) / F.greatest(
        F.col("hi") - F.col("lo"), F.lit(1e-12)
    )
    return (
        val.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_val"),
            fround(F.avg(z), 6).alias("z_mean"),
            fround(F.stddev_samp(z), 6).alias("z_std"),
            fround(F.min(mm), 6).alias("mm_min"),
            fround(F.max(mm), 6).alias("mm_max"),
            fround(F.avg((mm < 0).cast("double") + (mm > 1).cast("double")), 6).alias(
                "oob_share"
            ),
        )
        .orderBy("c_nationkey")
    )


ORACLE["features_scaler_fit_apply"] = f"""
WITH tagged AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CASE WHEN ('0x' || substr(md5('split:' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
                   % 1000 < 800 THEN 1 ELSE 0 END AS is_train
  FROM customer
),
params AS (
  SELECT avg(c_acctbal) AS mu, stddev_samp(c_acctbal) AS sigma,
         min(c_acctbal) AS lo, max(c_acctbal) AS hi
  FROM tagged WHERE is_train = 1
),
val AS (
  SELECT c_nationkey,
         (c_acctbal - p.mu) / greatest(p.sigma, 1e-12) AS z,
         (c_acctbal - p.lo) / greatest(p.hi - p.lo, 1e-12) AS mm
  FROM tagged CROSS JOIN params p
  WHERE is_train = 0
)
SELECT c_nationkey,
       count(*) AS n_val,
       {fround_sql("avg(z)", 6)} AS z_mean,
       {fround_sql("stddev_samp(z)", 6)} AS z_std,
       {fround_sql("min(mm)", 6)} AS mm_min,
       {fround_sql("max(mm)", 6)} AS mm_max,
       {fround_sql("avg(CASE WHEN mm < 0 THEN 1.0 ELSE 0.0 END + CASE WHEN mm > 1 THEN 1.0 ELSE 0.0 END)", 6)} AS oob_share
FROM val GROUP BY c_nationkey ORDER BY c_nationkey
"""


OHE_TOP_K = 10  # explicit-vocabulary size; everything else -> OTHER


def features_one_hot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k one-hot vocabulary with an OTHER bucket — the explicit-
    vocabulary counterpart to ``features_hashing_trick``: the {k}
    most frequent categories (ties broken lexically) each get an
    indicator column index; the long tail collapses into OTHER, so
    the encoded width is fixed no matter how many raw categories a
    100 TB stream invents. Category: part brand. Output: the fitted
    vocabulary (index, category, support) plus the OTHER row with its
    collapsed-category census. Plan: one bounded-key aggregation;
    the vocabulary selection is a TakeOrderedAndProject over the
    |brands|-sized count frame (never a data-sized sort), and the
    ranked vocab broadcasts back for the OTHER rollup."""
    part = load_table(spark, sf_dir, "part")
    counts = part.groupBy(F.col("p_brand").alias("cat")).agg(
        F.count(F.lit(1)).alias("n")
    )
    topk, w0 = single_partition(
        counts.orderBy(F.col("n").desc(), "cat").limit(OHE_TOP_K),
        by=[F.col("n").desc(), "cat"],
    )
    vocab = topk.withColumn("idx", F.row_number().over(w0).cast("int"))
    other = (
        counts.join(F.broadcast(vocab.select("cat")), "cat", "left_anti")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n"),
            F.count(F.lit(1)).alias("n_collapsed"),
        )
        .select(
            F.lit(0).cast("int").alias("idx"),
            F.lit("OTHER").alias("cat"),
            "n",
            "n_collapsed",
        )
    )
    return (
        vocab.select("idx", "cat", "n", F.lit(1).cast("bigint").alias("n_collapsed"))
        .unionByName(other)
        .orderBy("idx")
    )


features_one_hot_topk.__doc__ = features_one_hot_topk.__doc__.format(k=OHE_TOP_K)


ORACLE["features_one_hot_topk"] = f"""
WITH counts AS (
  SELECT p_brand AS cat, count(*) AS n FROM part GROUP BY 1
),
vocab AS (
  SELECT cat, n, CAST(row_number() OVER (ORDER BY n DESC, cat) AS INT) AS idx
  FROM counts
  ORDER BY n DESC, cat
  LIMIT {OHE_TOP_K}
),
other AS (
  SELECT CAST(0 AS INT) AS idx, 'OTHER' AS cat,
         CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
         count(*) AS n_collapsed
  FROM counts WHERE cat NOT IN (SELECT cat FROM vocab)
)
SELECT idx, cat, n, CAST(1 AS BIGINT) AS n_collapsed FROM vocab
UNION ALL
SELECT idx, cat, n, n_collapsed FROM other
ORDER BY idx
"""


STUMP_BINS = 32  # histogram resolution — the LightGBM-style bin count
STUMP_EPS = 1e-12  # degenerate-range guard (features_scaler convention)


def features_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed decision-stump search — the histogram split-finding
    kernel every distributed GBDT (XGBoost 'hist', LightGBM) runs per
    node, as a standalone feature screen: for each candidate feature,
    bin values into {STUMP_BINS} fixed-width bins (ONE pass for
    min/max, broadcast; ONE pass for per-bin label counts), then scan
    occupied-bin upper edges as thresholds and report the split with
    the best Gini gain for label y = (o_orderstatus = 'F'). Features:
    o_totalprice and o_orderdate as epoch days.

    Scale shape: the data is touched exactly twice, map-side both
    times (range agg → broadcast; histogram agg with partial
    aggregation); the threshold scan runs over ≤ {STUMP_BINS} rows
    per feature via feature-partitioned windows — at 100 TB the
    shuffled state is |features|×{STUMP_BINS} rows of counts, nothing
    else. All impurity arithmetic is ratios of exact integer counts →
    identical doubles in both engines; the gain is grid-snapped at
    1e-6. Degenerate (constant) features hit the {STUMP_EPS} width
    floor instead of ANSI divide-by-zero."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_totalprice").cast("double").alias("f_totalprice"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("double")
        .alias("f_orderday"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    long = base.select(
        F.explode(
            F.array(
                F.struct(F.lit("f_orderday").alias("feature"), F.col("f_orderday").alias("x")),
                F.struct(F.lit("f_totalprice").alias("feature"), F.col("f_totalprice").alias("x")),
            )
        ).alias("fx"),
        "y",
    ).select(F.col("fx.feature").alias("feature"), F.col("fx.x").alias("x"), "y")
    return stump_search(long)


def stump_search(long: DataFrame) -> DataFrame:
    """Histogram split search over a long (feature, x, y) frame —
    the reusable kernel behind ``features_decision_stump``."""
    rng = long.groupBy("feature").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    width = F.greatest(
        (F.col("mx") - F.col("mn")) / F.lit(float(STUMP_BINS)), F.lit(STUMP_EPS)
    )
    binned = long.join(F.broadcast(rng), "feature").select(
        "feature",
        "mn",
        width.alias("w"),
        F.least(
            F.lit(STUMP_BINS - 1),
            F.floor((F.col("x") - F.col("mn")) / width),
        ).alias("bin"),
        "y",
    )
    hist = binned.groupBy("feature", "mn", "w", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    wcum = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "mn",
        "w",
        "bin",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("posl"),
        F.sum("n").over(wtot).alias("nt"),
        F.sum("pos").over(wtot).alias("post"),
        F.max("bin").over(wtot).alias("maxbin"),
    ).filter(F.col("bin") < F.col("maxbin"))  # last edge splits nothing off

    def gini(p):  # noqa: ANN001 — column expr
        return F.lit(2.0) * p * (F.lit(1.0) - p)

    pt = F.col("post").cast("double") / F.col("nt").cast("double")
    pl = F.col("posl").cast("double") / F.col("nl").cast("double")
    nr = F.col("nt") - F.col("nl")
    pr = (F.col("post") - F.col("posl")).cast("double") / nr.cast("double")
    gain = gini(pt) - (
        F.col("nl").cast("double") / F.col("nt").cast("double") * gini(pl)
        + nr.cast("double") / F.col("nt").cast("double") * gini(pr)
    )
    wbest = Window.partitionBy("feature").orderBy(F.col("gain").desc(), "bin")
    return (
        cum.select(
            "feature",
            (F.col("mn") + (F.col("bin") + 1) * F.col("w")).alias("threshold"),
            F.col("nl").alias("n_left"),
            nr.alias("n_right"),
            gain.alias("gain"),
            "bin",
        )
        .withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            "feature",
            fround("threshold", 4).alias("threshold"),
            "n_left",
            "n_right",
            fround("gain", 6).alias("gini_gain"),
        )
        .orderBy("feature")
    )


features_decision_stump.__doc__ = features_decision_stump.__doc__.format(
    STUMP_BINS=STUMP_BINS, STUMP_EPS=STUMP_EPS
)


ORACLE["features_decision_stump"] = f"""
WITH long AS (
  SELECT 'f_orderday' AS feature,
         CAST(o_orderdate::DATE - DATE '1970-01-01' AS DOUBLE) AS x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
  UNION ALL
  SELECT 'f_totalprice', CAST(o_totalprice AS DOUBLE),
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
  FROM orders
),
rng AS (
  SELECT feature, min(x) AS mn, max(x) AS mx,
         greatest((max(x) - min(x)) / {float(STUMP_BINS)}, {STUMP_EPS}) AS w
  FROM long GROUP BY 1
),
binned AS (
  SELECT l.feature, r.mn, r.w,
         least({STUMP_BINS - 1}, CAST(floor((l.x - r.mn) / r.w) AS BIGINT)) AS bin,
         l.y
  FROM long l JOIN rng r USING (feature)
),
hist AS (
  SELECT feature, mn, w, bin, count(*) AS n, sum(y) AS pos
  FROM binned GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT feature, mn, w, bin,
         sum(n) OVER (PARTITION BY feature ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
         sum(pos) OVER (PARTITION BY feature ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posl,
         sum(n) OVER (PARTITION BY feature) AS nt,
         sum(pos) OVER (PARTITION BY feature) AS post,
         max(bin) OVER (PARTITION BY feature) AS maxbin
  FROM hist
),
scored AS (
  SELECT feature, mn + (bin + 1) * w AS threshold,
         nl AS n_left, nt - nl AS n_right, bin,
         (2.0 * (post * 1.0 / nt) * (1.0 - post * 1.0 / nt))
         - ((nl * 1.0 / nt) * (2.0 * (posl * 1.0 / nl) * (1.0 - posl * 1.0 / nl))
            + ((nt - nl) * 1.0 / nt)
              * (2.0 * ((post - posl) * 1.0 / (nt - nl))
                 * (1.0 - (post - posl) * 1.0 / (nt - nl)))) AS gain
  FROM cum WHERE bin < maxbin
),
best AS (
  SELECT feature, threshold, n_left, n_right, gain,
         row_number() OVER (PARTITION BY feature
                            ORDER BY gain DESC, bin) AS rk
  FROM scored
)
SELECT feature, {fround_sql("threshold", 4)} AS threshold,
       CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
       {fround_sql("gain", 6)} AS gini_gain
FROM best WHERE rk = 1 ORDER BY feature
"""


CONF_ALPHA = 0.1  # target miscoverage: 90% prediction intervals


def features_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals, group-conditional
    (Mondrian) — the distribution-free uncertainty wrapper modern ML
    serving puts around ANY point predictor (Vovk et al.; Angelopoulos
    & Bates 2023 tutorial form): a deterministic 3-way hash split of
    orders gives train/calibration/test; the predictor is the
    train-split mean total price per order priority (deliberately
    simple — conformal's guarantee holds for any predictor); the
    calibration nonconformity scores |y − ŷ| yield, per group, the
    k = ⌈(n_cal+1)·(1−α)⌉-th smallest score as the interval half-width
    q̂; test coverage of ŷ ± q̂ is then reported against the 1−α = 90%
    target the method guarantees in expectation. Groups too small to
    calibrate (⌈(n_cal+1)(1−α)⌉ > n_cal, i.e. n_cal+1 < 1/α) get k
    capped at n_cal — the max score substitutes for the conformal
    infinite-width convention — and are FLAGGED via the
    ``undersized_cal`` column (same predicate in the oracle) so the
    lost guarantee is visible, not silent.

    Scale shape: the predictor and the q̂ table are |groups|-row
    broadcast frames; scores are one map pass; the order statistic is
    a row_number over GROUP-partitioned windows (never a global
    sort); coverage is one partial-combined aggregate. Determinism:
    the group means are grid-snapped (fround 6) BEFORE scores are
    formed, so every downstream comparison is a function of parquet
    doubles and a snapped constant — q̂ is an actual data value
    (order statistic), not an interpolated quantile. Tie rows at the
    k-th position share the same VALUE, so the tiebreak affects only
    which row is picked, never q̂."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("g"),
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderkey") % 3).alias("split"),
    )
    pred = F.broadcast(
        base.filter(F.col("split") == 0)
        .groupBy("g")
        .agg(fround(F.avg("y"), 6).alias("p"))
    )
    wcal = Window.partitionBy("g").orderBy(F.abs(F.col("y") - F.col("p")), "k")
    wn = Window.partitionBy("g")
    cal = (
        base.filter(F.col("split") == 1)
        .join(pred, "g")
        .select(
            "g",
            F.abs(F.col("y") - F.col("p")).alias("s"),
            F.row_number().over(wcal).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n_cal"),
        )
    )
    k_stat = F.least(
        F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONF_ALPHA)).cast("bigint"),
        F.col("n_cal"),
    )
    qhat = F.broadcast(
        cal.filter(F.col("rn") == k_stat).select(
            "g", F.col("n_cal"), F.col("s").alias("q")
        )
    )
    test = (
        base.filter(F.col("split") == 2)
        .join(pred, "g")
        .join(qhat, "g")
        .groupBy("g")
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (F.abs(F.col("y") - F.col("p")) <= F.col("q")).cast("bigint")
            ).alias("n_cov"),
            F.max("q").alias("q"),
        )
    )
    return test.select(
        F.col("g").alias("o_orderpriority"),
        "n_cal",
        "n_test",
        fround("q", 4).alias("qhat"),
        fround(F.lit(2.0) * F.col("q"), 4).alias("width"),
        fround(F.col("n_cov").cast("double") / F.col("n_test"), 4).alias(
            "coverage"
        ),
        F.lit(1.0 - CONF_ALPHA).alias("target"),
        # ADVICE r08: when ⌈(n_cal+1)(1−α)⌉ > n_cal the true split-
        # conformal quantile is +∞ (infinite-width interval); capping k
        # at n_cal substitutes the max calibration score and silently
        # loses the coverage guarantee. Surface that substitution.
        (
            F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONF_ALPHA)).cast("bigint")
            > F.col("n_cal")
        ).alias("undersized_cal"),
    ).orderBy("o_orderpriority")


ORACLE["features_conformal_interval"] = f"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderpriority AS g, o_totalprice AS y,
         o_orderkey % 3 AS split
  FROM orders
),
pred AS (
  SELECT g, {fround_sql("avg(y)", 6)} AS p
  FROM base WHERE split = 0 GROUP BY 1
),
cal AS (
  SELECT b.g, abs(b.y - p.p) AS s,
         row_number() OVER (PARTITION BY b.g
                            ORDER BY abs(b.y - p.p), b.k) AS rn,
         count(*) OVER (PARTITION BY b.g) AS n_cal
  FROM base b JOIN pred p USING (g)
  WHERE b.split = 1
),
qh AS (
  SELECT g, n_cal, s AS q FROM cal
  WHERE rn = least(CAST(ceil((n_cal + 1) * {1.0 - CONF_ALPHA}) AS BIGINT),
                   n_cal)
),
test AS (
  SELECT b.g, max(q.n_cal) AS n_cal, count(*) AS n_test,
         sum(CASE WHEN abs(b.y - p.p) <= q.q THEN 1 ELSE 0 END) AS n_cov,
         max(q.q) AS q
  FROM base b JOIN pred p USING (g) JOIN qh q USING (g)
  WHERE b.split = 2
  GROUP BY 1
)
SELECT g AS o_orderpriority, CAST(n_cal AS BIGINT) AS n_cal,
       CAST(n_test AS BIGINT) AS n_test,
       {fround_sql("q", 4)} AS qhat,
       {fround_sql("2.0 * q", 4)} AS width,
       {fround_sql("n_cov * 1.0 / n_test", 4)} AS coverage,
       {1.0 - CONF_ALPHA} AS target,
       ceil((n_cal + 1) * {1.0 - CONF_ALPHA}) > n_cal AS undersized_cal
FROM test ORDER BY o_orderpriority
"""


CALIB_BINS = 10  # reliability-diagram bins (equal-width on [0,1])


def features_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + Brier decomposition — the audit run on
    any score used as a KEEP-probability before it gates a corpus: is
    a 0.8 really an 80%? Predictor: the composite ``quality_score``
    (a [0,1] heuristic standing in for a quality-classifier
    probability — the operator is pluggable); outcome: the Gopher
    hard keep decision (the binary signal the score is supposed to
    anticipate). Per equal-width score bin: volume, mean predicted,
    observed keep rate, and the calibration gap; plus the exact Brier
    score and its Murphy bin decomposition (reliability = volume-
    weighted squared gap — lower is better-calibrated; resolution =
    volume-weighted squared lift over the base rate — higher means
    the score separates; uncertainty = base-rate variance) repeated
    as summary columns. Murphy's identity Brier = REL − RES + UNC
    holds exactly only for bin-constant forecasts; with a continuous
    score the within-bin variance term remains, so the exact Brier is
    reported alongside the decomposition, never derived from it.

    Scale shape: two per-row expression passes fused into one scan
    (score + gopher flags share the tokenization), ONE partial-
    combined aggregation on a {CALIB_BINS}-row key, then scalar
    arithmetic on the bounded frame via a broadcast 1-row summary.
    Integer binning (floor(score·bins) capped) — no quantiles, no
    sort."""
    from mapreduce_rust_spark.operators.text_analysis import (
        _gopher_exprs,
        _quality_exprs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # both gates are per-row expressions: ONE scan, no doc_id
    # self-join (guide §2.4); each frame's row filter (quality's
    # n_chars>0, gopher's zero-token drop) applied explicitly
    qe = _quality_exprs("text")
    ge = _gopher_exprs("text")
    scored = (
        docs.filter((qe["_n_chars"] > 0) & (ge["_n_words"] > 0))
        .select(
            qe["quality_score"].alias("quality_score"),
            ge["keep"].alias("keep"),
        )
        .select(
            F.least(
                F.floor(F.col("quality_score") * CALIB_BINS).cast("int"),
                F.lit(CALIB_BINS - 1),
            ).alias("bin"),
            "quality_score",
            F.col("keep").cast("double").alias("y"),
        )
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("quality_score").alias("mean_pred"),
        F.avg("y").alias("frac_pos"),
        F.sum((F.col("quality_score") - F.col("y")) ** 2).alias("se"),
    )
    tot = bins.agg(
        F.sum("n").alias("n_total"),
        (F.sum(F.col("frac_pos") * F.col("n")) / F.sum("n")).alias("base"),
        (F.sum("se") / F.sum("n")).alias("brier"),
        (
            F.sum(F.col("n") * (F.col("mean_pred") - F.col("frac_pos")) ** 2)
            / F.sum("n")
        ).alias("reliability"),
    )
    res = (
        bins.crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(F.col("n") * (F.col("frac_pos") - F.col("base")) ** 2)
                / F.max("n_total")
            ).alias("resolution")
        )
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(res))
        .select(
            "bin",
            "n",
            fround("mean_pred", 6).alias("mean_pred"),
            fround("frac_pos", 6).alias("frac_pos"),
            fround(F.col("mean_pred") - F.col("frac_pos"), 6).alias("gap"),
            fround("brier", 6).alias("brier"),
            fround("reliability", 6).alias("reliability"),
            fround("resolution", 6).alias("resolution"),
            fround(F.col("base") * (1 - F.col("base")), 6).alias("uncertainty"),
        )
        .orderBy("bin")
    )


features_calibration_curve.__doc__ = features_calibration_curve.__doc__.format(
    CALIB_BINS=CALIB_BINS
)


def _calibration_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import (
        ORACLE as TA_ORACLE,
    )
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql

    gopher = TA_ORACLE["text_gopher_quality"].strip()
    return f"""
WITH gph AS ({gopher}),
q AS ({_quality_sql()}),
scored AS (
  SELECT least(CAST(floor(q.quality_score * {CALIB_BINS}) AS INT),
               {CALIB_BINS - 1}) AS bin,
         q.quality_score, CAST(gph.keep AS DOUBLE) AS y
  FROM q JOIN gph USING (doc_id)
),
bins AS (
  SELECT bin, count(*) AS n, avg(quality_score) AS mean_pred,
         avg(y) AS frac_pos,
         sum((quality_score - y) * (quality_score - y)) AS se
  FROM scored GROUP BY 1
),
tot AS (
  SELECT sum(n) AS n_total,
         sum(frac_pos * n) / sum(n) AS base,
         sum(se) / sum(n) AS brier,
         sum(n * (mean_pred - frac_pos) * (mean_pred - frac_pos)) / sum(n)
           AS reliability
  FROM bins
),
res AS (
  SELECT sum(n * (frac_pos - base) * (frac_pos - base)) / max(n_total)
           AS resolution
  FROM bins, tot
)
SELECT bin, CAST(n AS BIGINT) AS n,
       {fround_sql("mean_pred", 6)} AS mean_pred,
       {fround_sql("frac_pos", 6)} AS frac_pos,
       {fround_sql("mean_pred - frac_pos", 6)} AS gap,
       {fround_sql("brier", 6)} AS brier,
       {fround_sql("reliability", 6)} AS reliability,
       {fround_sql("resolution", 6)} AS resolution,
       {fround_sql("base * (1 - base)", 6)} AS uncertainty
FROM bins, tot, res
ORDER BY bin
"""


ORACLE["features_calibration_curve"] = _calibration_oracle()


def features_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's κ inter-rater agreement per source — the label-QA
    statistic for any pipeline where two independent judges (human
    annotators, two classifier versions, two heuristic gates) decide
    keep/drop: raw agreement overstates consensus when the base rate
    is skewed; κ = (p_o − p_e)/(1 − p_e) corrects for the agreement
    two raters would reach by chance from their own marginals. Raters
    here: the Gopher hard gate (rater A) and the composite-score gate
    at the pipeline threshold (rater B) — the two real keep decisions
    ``pipeline_gate_overlap`` already composes, now scored for
    chance-corrected agreement instead of set overlap. Output per
    source: the 2×2 confusion counts, observed/chance agreement, and
    κ (1−p_e floored at 1e-12, the ``features_scaler_fit_apply``
    degenerate-marginals discipline: an all-keep source has p_e = 1).

    Scale shape: the two flags are per-row expressions sharing one
    scan; everything reduces in ONE partial-combined aggregation on
    the |sources|-row key. Zero joins of data-sized frames."""
    from mapreduce_rust_spark.operators.text_analysis import (
        QUALITY_GATE_MIN,
        _gopher_exprs,
        _quality_exprs,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # both flags are per-row expressions: ONE scan, no doc_id
    # self-joins (guide §2.4); the two frames' row filters applied
    # explicitly
    ge = _gopher_exprs("text")
    qe = _quality_exprs("text")
    flags = docs.filter((ge["_n_words"] > 0) & (qe["_n_chars"] > 0)).select(
        "doc_id",
        "source",
        ge["keep"].alias("ra"),
        (qe["quality_score"] >= QUALITY_GATE_MIN).cast("int").alias("rb"),
    )
    g = flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("bigint").alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / nd
    pe = ((F.col("n11") + F.col("n10")) / nd) * ((F.col("n11") + F.col("n01")) / nd) + (
        (F.col("n01") + F.col("n00")) / nd
    ) * ((F.col("n10") + F.col("n00")) / nd)
    return g.select(
        "source",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        fround(po, 6).alias("p_observed"),
        fround(pe, 6).alias("p_chance"),
        fround((po - pe) / F.greatest(F.lit(1.0) - pe, F.lit(1e-12)), 6).alias(
            "kappa"
        ),
    ).orderBy("source")


def _kappa_oracle() -> str:
    from mapreduce_rust_spark.operators.text_analysis import (
        ORACLE as TA_ORACLE,
    )
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql
    from mapreduce_rust_spark.operators.text_analysis import QUALITY_GATE_MIN

    gopher = TA_ORACLE["text_gopher_quality"].strip()
    po = "(n11 + n00) / CAST(n AS DOUBLE)"
    pe = (
        "((n11 + n10) / CAST(n AS DOUBLE)) * ((n11 + n01) / CAST(n AS DOUBLE))"
        " + ((n01 + n00) / CAST(n AS DOUBLE)) * ((n10 + n00) / CAST(n AS DOUBLE))"
    )
    return f"""
WITH gph AS ({gopher}),
q AS ({_quality_sql()}),
flags AS (
  SELECT d.source, gph.keep AS ra,
         CAST(q.quality_score >= {QUALITY_GATE_MIN} AS INT) AS rb
  FROM documents d JOIN gph USING (doc_id) JOIN q USING (doc_id)
),
g AS (
  SELECT source, count(*) AS n,
         CAST(sum(ra * rb) AS BIGINT) AS n11,
         CAST(sum(ra * (1 - rb)) AS BIGINT) AS n10,
         CAST(sum((1 - ra) * rb) AS BIGINT) AS n01,
         CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00
  FROM flags GROUP BY 1
)
SELECT source, n, n11, n10, n01, n00,
       {fround_sql(po, 6)} AS p_observed,
       {fround_sql(pe, 6)} AS p_chance,
       {fround_sql(f"(({po}) - ({pe})) / greatest(1.0 - ({pe}), 1e-12)", 6)}
         AS kappa
FROM g ORDER BY source
"""


ORACLE["features_cohens_kappa"] = _kappa_oracle()


DECON_MH_HOLDOUT = 20  # same holdout spacing as the embedding screen
DECON_MH_CAP = 1000  # bench ids from [0, CAP) only — eval sets are FIXED-SIZE (the quadratic-fraction lesson, see DECON_EMB_CAP)
DECON_MH_THR = 0.5  # flag level: VERIFIED 3-gram Jaccard, not the LSH estimate
DECON_MH_BCAST_CAP = 2_000_000  # max candidate pairs to driver-broadcast (execution strategy only — never in the oracle)


def _decon_mh_bench(col: str) -> str:
    return f"{col} % {DECON_MH_HOLDOUT} = 0 AND {col} < {DECON_MH_CAP}"


def corpus_decontaminate_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY decontamination — the third screen modality, between
    ``decontaminate_ngram_overlap`` (exact 8-token spans: misses any
    edit) and ``corpus_decontaminate_embedding`` (semantic cosine:
    needs vectors): MinHash band signatures of the corpus probe a
    BROADCAST banded index of a fixed-size held-out "benchmark" slice
    (ids ≡ 0 mod {DECON_MH_HOLDOUT} below {DECON_MH_CAP}), and every
    candidate is then VERIFIED by true 3-gram Jaccard against the
    broadcast bench shingle sets — flagged at jaccard ≥
    {DECON_MH_THR}. This is the near-dup eval-leak screen training
    pipelines actually run (exact n-grams miss light rewording; LSH
    candidates + verified Jaccard catch it without embeddings).

    Plan shape for 100 TB: the bench side is eval-set-sized, so BOTH
    probe structures (band index, shingle sets) broadcast — the corpus
    streams through map-side joins; the only shuffles are the
    per-candidate-pair intersection aggregate (bounded by bench bucket
    collisions) and the final per-doc best-match window. The memoized
    signature index is shared with the whole dedup family. The
    CANDIDATE-side frames are data-dependent (bounded only by how many
    corpus docs near-dup the bench slice — a dup-heavy corpus can blow
    past driver memory), so they are persisted, counted, and
    driver-broadcast only under {DECON_MH_BCAST_CAP} pairs; above the
    cap the joins run un-hinted and AQE picks the strategy (worst case:
    two extra shuffles of candidate-sized frames — never the corpus).
    Output per flagged corpus doc: its best bench match (highest
    verified jaccard, lowest bench id on ties)."""
    from mapreduce_rust_spark.operators.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        shingle_index,
        signature_index,
    )

    sigs = signature_index(spark, sf_dir, k=3)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh{j}")
                    for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
                ],
            ).alias("sig"),
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.sig")
    is_bench = F.expr(_decon_mh_bench("doc_id"))
    bench_bands = F.broadcast(
        bands.filter(is_bench).select(
            F.col("doc_id").alias("bid"), "band", "sig"
        )
    )
    # A session index like signature_index: this slug is also invoked
    # inside pipeline_decontaminate, and a per-call persist() would
    # leak one cached frame per invocation for the session lifetime.
    cand = session_index(
        spark, sf_dir, "decon-mh-cand",
        lambda: bands.filter(~is_bench)
        .join(bench_bands, ["band", "sig"])
        .select(F.col("doc_id").alias("cid"), "bid")
        .distinct(),
    )
    # broadcast guard (ADVICE r08): cand is data-dependent; count the
    # memoized frame (reused 2× below anyway) and only hint a driver
    # broadcast under the cap — above it AQE picks the join strategy
    _hint = (
        F.broadcast if cand.count() <= DECON_MH_BCAST_CAP else (lambda df: df)
    )

    # the memoized session shingle index (one localCheckpoint build,
    # shared with the whole dedup family) instead of a fresh
    # shingle_sets plan: ``sh`` is consumed FOUR times below (sz,
    # bench_sh, inter, scored) and each consumer re-ran the full
    # explode+distinct pass — guide §5 reuse, r09 verdict ask #6
    sh = shingle_index(spark, sf_dir, k=3)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    bench_sh = F.broadcast(
        sh.filter(is_bench).select(F.col("doc_id").alias("bid"), "s")
    )
    bench_sz = F.broadcast(
        sz.filter(is_bench).select(F.col("doc_id").alias("bid"), F.col("n").alias("n2"))
    )
    # verify CANDIDATES ONLY: restrict the corpus shingle stream to
    # candidate docs (broadcast id list — bounded by bench bucket
    # collisions), then intersect map-side against the bench sets
    inter = (
        sh.join(_hint(cand.select("cid").distinct()), sh.doc_id == F.col("cid"))
        .join(bench_sh, "s")
        .groupBy("cid", "bid")
        .agg(F.count(F.lit(1)).alias("i"))
        .join(_hint(cand), ["cid", "bid"])  # candidate pairs only
    )
    jac = F.col("i") * F.lit(1.0) / (F.col("n1") + F.col("n2") - F.col("i"))
    # inter is candidate-bounded → broadcast it (cap-guarded) against the
    # corpus-sized size frame so neither join shuffles the corpus
    scored = (
        _hint(inter)
        .join(sz.select(F.col("doc_id").alias("cid"), F.col("n").alias("n1")), "cid")
        .join(bench_sz, "bid")
        .select("cid", "bid", "i", jac.alias("jac"))
        .filter(F.col("jac") >= DECON_MH_THR)
    )
    w = Window.partitionBy("cid").orderBy(F.col("jac").desc(), "bid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("cid").alias("doc_id"),
            F.col("bid").alias("bench_id"),
            F.col("i").alias("n_shared"),
            fround("jac", 4).alias("jaccard"),
        )
        .orderBy("doc_id")
    )


corpus_decontaminate_minhash.__doc__ = corpus_decontaminate_minhash.__doc__.format(
    DECON_MH_HOLDOUT=DECON_MH_HOLDOUT,
    DECON_MH_CAP=DECON_MH_CAP,
    DECON_MH_THR=DECON_MH_THR,
    DECON_MH_BCAST_CAP=DECON_MH_BCAST_CAP,
)


def _decon_minhash_oracle() -> str:
    from mapreduce_rust_spark.operators.dedup import (
        MINHASH_PRIME,
        ROWS_PER_BAND,
        _h64_sql,
        _minhash_params,
        _SHINGLE_SQL,
    )

    params = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_params())
    )
    return f"""
WITH ds AS ({_SHINGLE_SQL}),
h AS (SELECT doc_id, {_h64_sql('s')} AS h FROM ds),
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
scored AS (
  SELECT cid, bid, i,
         i * 1.0 / (s1.n + s2.n - i) AS jac
  FROM inter
  JOIN sz s1 ON s1.doc_id = cid
  JOIN sz s2 ON s2.doc_id = bid
  WHERE i * 1.0 / (s1.n + s2.n - i) >= {DECON_MH_THR}
),
best AS (
  SELECT cid, bid, i, jac,
         row_number() OVER (PARTITION BY cid ORDER BY jac DESC, bid) AS rk
  FROM scored
)
SELECT cid AS doc_id, bid AS bench_id, CAST(i AS BIGINT) AS n_shared,
       {fround_sql("jac", 4)} AS jaccard
FROM best WHERE rk = 1 ORDER BY doc_id
"""


ORACLE["corpus_decontaminate_minhash"] = _decon_minhash_oracle()


# --- quality-classifier distillation (r10) ---------------------------
#
# The fastText-style step of the standard LLM curation funnel the
# engine was missing: distill the EXPENSIVE rule-based quality gate
# (the ``quality_scores`` composite, which a real pipeline would run
# only on a sample) into a CHEAP hashed linear scorer that can screen
# 100 TB with one multiply-free pass — score → calibrate → threshold,
# where calibration and thresholding already exist
# (``features_calibration_curve``, ``corpus_quality_calibrated_filter``).
#
# Trainer: logistic regression over hashed unigram presence features
# (the hashing trick — no vocabulary, no driver state), fit with
# QC_ROUNDS unrolled diagonal-Newton rounds (IRLS with a diagonal
# Hessian, row-sparsity damped + Levenberg floor): closed-form
# per-bucket updates
#   beta_j += sum_{i in j} (y_i - p_i)
#             / (QC_STEP_DAMP * sum_{i in j} p_i(1-p_i) + ridge)
# — fully declarative (one broadcast model join + two keyed aggregates
# per round), deterministic (beta and scores snapped to the 1e-6 grid
# each round in BOTH engines, the ``embedding_kmeans`` recipe), so the
# DuckDB oracle replays the identical trace as chained unrolled CTEs.

QC_BUCKETS = 64  # hashed dims PER NAMESPACE — fixed model size, never a corpus fraction
QC_ROUNDS = 5  # unrolled Newton rounds (oracle chains the same CTEs)
QC_RIDGE = 1.0  # Levenberg floor added to each damped per-bucket Hessian
# Row-sparsity damping for the parallel per-bucket updates (Shotgun /
# parallel coordinate descent, Bradley et al. 2011): each doc activates
# ~26 buckets on the measured corpora (~21 distinct-token buckets + 4
# profile bands + intercept), and every active bucket absorbs the SAME
# per-doc residual, so the undamped diagonal-Newton step overshoots by
# exactly that factor (measured: |beta| -> 2700 in 3 rounds undamped;
# stable and discriminating at the expected-sparsity damping across
# sf0.001..sf1).
QC_STEP_DAMP = 26
QC_TRAIN_MOD = 5  # doc_id % 5 != 0 trains (80%); every doc is scored
# Teacher gate: quality_score >= this is the positive class. 0.91 is
# the corpus's own median quality (40-57% positive at every measured
# sf) — the pipeline gate's 0.6 admits EVERY synthetic doc and would
# distill a vacuous always-positive student.
QC_TEACHER_MIN = 0.91


def _qc_design_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct design-matrix rows (doc_id, bucket, y) over ALL docs.

    Two hash NAMESPACES (the Vowpal Wabbit trick): distinct normalized
    unigrams hash into buckets [0, {B}), the four numeric quality-proxy
    bands (alpha ratio, digit ratio, mean word length, token count —
    the signals a fastText-style quality gate actually uses) into
    [{B}, 2·{B}), plus an intercept row (bucket = -1) per doc. Without
    the namespace split, a band value colliding with a stopword-grade
    universal token becomes present in EVERY doc and loses all signal
    — measured: the student degenerates to the majority class at sf1.
    y = the teacher gate."""
    from mapreduce_rust_spark.functions.text import hash64, normalize_text
    from mapreduce_rust_spark.operators.text_analysis import _quality_exprs

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # The teacher label is a per-row expression of the same document
    # row, so carry it through each feature branch instead of joining
    # a separate per-doc frame onto the EXPLODED feature stream — that
    # join shuffled the corpus-sized design matrix by doc_id for a
    # label each row could compute in place (guide §2.4). Equivalent:
    # y is functionally dependent on doc_id (distinct over
    # (doc_id, bucket, y) = distinct over (doc_id, bucket)), the old
    # join was inner, and the teacher frame's n_chars>0 row filter is
    # applied up front (docs it drops contributed no token/band rows).
    qe = _quality_exprs("text")
    labeled = docs.filter(qe["_n_chars"] > 0).select(
        "doc_id",
        "text",
        (qe["quality_score"] >= QC_TEACHER_MIN).cast("int").alias("y"),
    )
    t = F.col("text")
    toks = F.array_distinct(tokenize_whitespace(normalize_text(t)))
    tokb = (
        labeled.select("doc_id", "y", F.explode(toks).alias("tok"))
        .select(
            "doc_id",
            (hash64(F.concat(F.lit("tok="), F.col("tok"))) % QC_BUCKETS).alias(
                "bucket"
            ),
            "y",
        )
    )
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_space = F.length(F.regexp_replace(t, r"[^ \t\n]", ""))
    n_tok = F.size(tokenize_whitespace(t))

    def band(prefix: str, expr) -> F.Column:
        return F.concat(F.lit(prefix), F.floor(expr).cast("bigint").cast("string"))

    bands = F.array(
        band("alphab=", n_alpha.cast("double") / n_chars * 20),
        band("digitb=", n_digit.cast("double") / n_chars * 20),
        band("mwlb=", (n_chars - n_space).cast("double") / n_tok * 4),
        band("ntokb=", n_tok / F.lit(8)),
    )
    bandb = (
        labeled.filter(n_chars > 0)
        .select("doc_id", "y", F.explode(bands).alias("feat"))
        .select(
            "doc_id",
            (F.lit(QC_BUCKETS) + hash64(F.col("feat")) % QC_BUCKETS).alias(
                "bucket"
            ),
            "y",
        )
    )
    return (
        tokb.unionByName(bandb)
        .distinct()
        .unionByName(
            labeled.select(
                "doc_id", F.lit(-1).cast("bigint").alias("bucket"), "y"
            )
        )
    )


_qc_design_frame.__doc__ = _qc_design_frame.__doc__.format(B=QC_BUCKETS)


def _qc_train_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unrolled training loop — returns the final (bucket, beta)
    model frame. Plan per round: broadcast the (QC_BUCKETS+1)-row model
    onto the design rows, one doc-keyed aggregate (scores), one
    bucket-keyed aggregate (gradient + diagonal Hessian), snap. Lazy
    localCheckpoints truncate the iterative lineage (kmeans pattern)."""
    train = (
        _qc_design_frame(spark, sf_dir)
        .filter(F.col("doc_id") % QC_TRAIN_MOD != 0)
        .localCheckpoint(eager=False)
    )
    # intercept initialized at the empirical log-odds of the train
    # split (the standard GLM start); feature weights at zero
    logodds = train.select("doc_id", "y").distinct().agg(
        fround(
            F.log(
                (F.sum("y") + F.lit(0.5))
                / (F.count(F.lit(1)) - F.sum("y") + F.lit(0.5))
            ),
            6,
        ).alias("b_int")
    )
    beta = (
        train.select("bucket")
        .distinct()
        .crossJoin(F.broadcast(logodds))
        .select(
            "bucket",
            F.when(F.col("bucket") == -1, F.col("b_int"))
            .otherwise(F.lit(0.0))
            .alias("beta"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(QC_ROUNDS):
        s = (
            train.join(F.broadcast(beta), "bucket")
            .groupBy("doc_id", "y")
            .agg(fround(F.sum("beta"), 6).alias("s"))
        )
        p = s.select(
            "doc_id",
            "y",
            fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("s"))), 6).alias("p"),
        )
        upd = (
            train.select("doc_id", "bucket")
            .join(p, "doc_id")
            .groupBy("bucket")
            .agg(
                F.sum(F.col("y") - F.col("p")).alias("g"),
                F.sum(F.col("p") * (F.lit(1.0) - F.col("p"))).alias("h"),
            )
        )
        beta = (
            beta.join(upd, "bucket", "left")
            .select(
                "bucket",
                fround(
                    F.col("beta")
                    + F.coalesce(
                        F.col("g")
                        / (F.col("h") * F.lit(QC_STEP_DAMP) + F.lit(QC_RIDGE)),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("beta"),
            )
            .localCheckpoint(eager=False)
        )
    return beta


def qc_beta_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the trained model — the trainer slug and the
    per-source scorer slug describe the SAME fit by construction."""
    return session_index(
        spark, sf_dir, f"qc-beta-b{QC_BUCKETS}-r{QC_ROUNDS}",
        lambda: _qc_train_beta(spark, sf_dir),
    )


def features_quality_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained student model itself: per hashed feature bucket the
    fitted log-odds weight plus its training support (docs touching
    the bucket, positives among them) — what you inspect before
    trusting a distilled gate to screen 100 TB. Model size is the
    policy constant 2*QC_BUCKETS+1 (two namespaces + intercept)
    regardless of corpus size."""
    beta = qc_beta_index(spark, sf_dir)
    train = _qc_design_frame(spark, sf_dir).filter(
        F.col("doc_id") % QC_TRAIN_MOD != 0
    )
    occ = train.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum("y").cast("bigint").alias("n_pos_docs"),
    )
    return (
        beta.join(occ, "bucket")
        .select("bucket", "beta", "n_train_docs", "n_pos_docs")
        .orderBy("bucket")
    )


def corpus_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source score distribution of the distilled quality
    classifier over the WHOLE corpus (train + held-out): mean student
    score, student/teacher positive rates, and student-teacher
    agreement — the report that says whether the cheap scorer can
    replace the expensive gate, and which sources it would re-weight.
    Scoring is one broadcast model join + one doc-keyed aggregate —
    the shape that screens 100 TB in a single pass."""
    beta = qc_beta_index(spark, sf_dir)
    full = _qc_design_frame(spark, sf_dir)
    s = (
        full.join(F.broadcast(beta), "bucket", "left")
        .groupBy("doc_id", "y")
        .agg(fround(F.sum(F.coalesce(F.col("beta"), F.lit(0.0))), 6).alias("s"))
    )
    p = s.select(
        "doc_id",
        "y",
        fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("s"))), 6).alias("p"),
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pred = (F.col("p") >= 0.5).cast("int")
    return (
        p.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            fround(F.avg("p"), 4).alias("mean_score"),
            fround(F.avg(pred.cast("double")), 4).alias("student_pos_rate"),
            fround(F.avg(F.col("y").cast("double")), 4).alias("teacher_pos_rate"),
            fround(F.avg((pred == F.col("y")).cast("double")), 4).alias(
                "agreement"
            ),
        )
        .orderBy("source")
    )


def _qc_oracle_prefix() -> str:
    """Shared CTE chain: design matrix, teacher labels, train split,
    and the unrolled b0..b{QC_ROUNDS} Newton rounds."""
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql

    featr = f"""
  SELECT doc_id, ('0x' || substr(md5('tok=' || unnest(list_distinct(list_filter(
    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
    x -> x <> '')))), 1, 15))::BIGINT % {QC_BUCKETS} AS bucket
  FROM documents
  UNION
  SELECT doc_id, {QC_BUCKETS} + ('0x' || substr(md5(unnest([
    'alphab=' || CAST(CAST(floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) * 20) AS BIGINT) AS VARCHAR),
    'digitb=' || CAST(CAST(floor(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text) * 20) AS BIGINT) AS VARCHAR),
    'mwlb=' || CAST(CAST(floor((length(text) - length(regexp_replace(text, '[^ \t\n]', '', 'g')))::DOUBLE / len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) * 4) AS BIGINT) AS VARCHAR),
    'ntokb=' || CAST(CAST(floor(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) / 8) AS BIGINT) AS VARCHAR)
  ])), 1, 15))::BIGINT % {QC_BUCKETS} AS bucket
  FROM documents WHERE length(text) > 0
"""
    ctes = [
        f"""feat AS MATERIALIZED (
  SELECT DISTINCT doc_id, bucket FROM ({featr}) fr
  UNION
  SELECT doc_id, CAST(-1 AS BIGINT) AS bucket FROM documents
)""",
        f"""teacher AS MATERIALIZED (
  SELECT doc_id, CASE WHEN quality_score >= {QC_TEACHER_MIN} THEN 1 ELSE 0 END AS y
  FROM ({_quality_sql()}) q
)""",
        "fullm AS MATERIALIZED (SELECT f.doc_id, f.bucket, t.y FROM feat f JOIN teacher t USING (doc_id))",
        f"train AS MATERIALIZED (SELECT * FROM fullm WHERE doc_id % {QC_TRAIN_MOD} <> 0)",
        f"""logodds AS MATERIALIZED (
  SELECT {fround_sql("ln((sum(y) + 0.5) / (count(*) - sum(y) + 0.5))", 6)} AS b_int
  FROM (SELECT DISTINCT doc_id, y FROM train) d
)""",
        """b0 AS MATERIALIZED (
  SELECT DISTINCT t.bucket,
         CASE WHEN t.bucket = -1 THEN lo.b_int ELSE 0.0 END AS beta
  FROM train t CROSS JOIN logodds lo
)""",
    ]
    for r in range(1, QC_ROUNDS + 1):
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT t.doc_id, t.y, {fround_sql("sum(b.beta)", 6)} AS s
  FROM train t JOIN b{r - 1} b USING (bucket) GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT doc_id, y, {fround_sql("1.0 / (1.0 + exp(-s))", 6)} AS p FROM s{r}
)"""
        )
        ctes.append(
            f"""u{r} AS MATERIALIZED (
  SELECT t.bucket, sum(t.y - p.p) AS g, sum(p.p * (1.0 - p.p)) AS h
  FROM train t JOIN p{r} p USING (doc_id) GROUP BY 1
)"""
        )
        ctes.append(
            f"""b{r} AS MATERIALIZED (
  SELECT b.bucket,
         {fround_sql(
             f"b.beta + coalesce(u.g / (u.h * {QC_STEP_DAMP} + {QC_RIDGE}), 0.0)",
             6,
         )} AS beta
  FROM b{r - 1} b LEFT JOIN u{r} u USING (bucket)
)"""
        )
    return "WITH " + ",\n".join(ctes)


ORACLE["features_quality_distill"] = f"""
{_qc_oracle_prefix()},
occ AS (
  SELECT bucket, count(*) AS n_train_docs, sum(y) AS n_pos_docs
  FROM train GROUP BY 1
)
SELECT b.bucket, b.beta,
       CAST(o.n_train_docs AS BIGINT) AS n_train_docs,
       CAST(o.n_pos_docs AS BIGINT) AS n_pos_docs
FROM b{QC_ROUNDS} b JOIN occ o USING (bucket)
ORDER BY bucket
"""


ORACLE["corpus_quality_classifier"] = f"""
{_qc_oracle_prefix()},
sall AS (
  SELECT f.doc_id, f.y, {fround_sql("sum(coalesce(b.beta, 0.0))", 6)} AS s
  FROM fullm f LEFT JOIN b{QC_ROUNDS} b USING (bucket) GROUP BY 1, 2
),
pall AS (
  SELECT doc_id, y, {fround_sql("1.0 / (1.0 + exp(-s))", 6)} AS p FROM sall
)
SELECT d.source, count(*) AS n_docs,
       {fround_sql("avg(p)", 4)} AS mean_score,
       {fround_sql("avg(CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END)", 4)}
         AS student_pos_rate,
       {fround_sql("avg(CAST(y AS DOUBLE))", 4)} AS teacher_pos_rate,
       {fround_sql(
           "avg(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) = y"
           " THEN 1.0 ELSE 0.0 END)", 4)} AS agreement
FROM pall JOIN documents d USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "features_quality_distill": features_quality_distill,
    "corpus_quality_classifier": corpus_quality_classifier,
    "features_calibration_curve": features_calibration_curve,
    "features_cohens_kappa": features_cohens_kappa,
    "features_conformal_interval": features_conformal_interval,
    "features_decision_stump": features_decision_stump,
    "corpus_decontaminate_minhash": corpus_decontaminate_minhash,
    "features_target_encoding": features_target_encoding,
    "features_woe_iv": features_woe_iv,
    "features_hashing_trick": features_hashing_trick,
    "features_scaler_fit_apply": features_scaler_fit_apply,
    "features_one_hot_topk": features_one_hot_topk,
    "text_pii_redact": text_pii_redact,
    "text_repetition": text_repetition,
    "dedup_prefix": dedup_prefix,
    "decontaminate_ngram_overlap": decontaminate_ngram_overlap,
    "corpus_decontaminate_embedding": corpus_decontaminate_embedding,
    "features_kfold_assign": features_kfold_assign,
}
