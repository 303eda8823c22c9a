"""Similarity search over embedding columns (``array<float>``).

Two strategies, both oracle-checked:

* **brute force** — broadcast the (small) query set against every
  vector, cosine top-k per query via window rank. Exact; cost is
  |queries| × N. The correctness baseline.
* **bucketed (sign-LSH / IVF-style)** — partition vectors into 2^B
  buckets by the sign pattern of the first B components (axis-aligned
  random-hyperplane LSH with deterministic planes) and search only
  the query's bucket. Cost drops ~2^B×; recall is approximate. This
  is the 100 TB shape: bucket id is a shuffle/partition key, so a
  cluster-scale index is just a parquet table partitioned by bucket.

Cosine arithmetic stays JVM-side (zip_with/aggregate higher-order
functions — no Python, no Arrow transfer). For very wide vectors or
GPU-adjacent workloads, swap in a Pandas-UDF matrix kernel; at d=64
the expression path wins on transfer overhead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.functions.vectors import (
    cosine_from_norms,
    cosine_similarity,
    l2_norm,
)
from mapreduce_rust_spark.indexes import session_index
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

N_SIGN_BITS = 4  # 16 buckets


def sign_bucket(vec, n_bits: int = N_SIGN_BITS):
    """Deterministic LSH bucket: bit b set iff component b ≥ 0.
    Axis-aligned hyperplanes — reproducible in any engine, no RNG."""
    return sum(
        F.when(F.element_at(vec, b + 1) >= 0, F.lit(1 << b)).otherwise(0)
        for b in range(n_bits)
    ).cast("int")


def _sign_bucket_sql(vec_expr: str, n_bits: int = N_SIGN_BITS) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec_expr}[{b + 1}] >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    return f"CAST({terms} AS INT)"


# --- adaptive sign-LSH: bucket count scales with corpus size --------
#
# A FIXED bit count makes every bucket's occupancy grow linearly with
# the corpus, so any within-bucket join grows QUADRATICALLY — an
# sf0.1→sf1 sweep measured exactly that (dedup_embedding_lsh
# exponent 1.91). The scale-correct policy is occupancy-targeted:
#     B = clamp(ceil(log2(n / OCCUPANCY)), MIN_BITS, MAX_BITS)
# which keeps expected bucket size ≤ OCCUPANCY, making bucketed
# self-joins ~n·OCCUPANCY/2 — linear. Implemented as an INTEGER
# threshold ladder (n ≤ OCCUPANCY·2^B), not float log2, so Spark and
# DuckDB agree bit-for-bit at every boundary. At the sf0.01 oracle
# gate n=200 ⇒ B=MIN_BITS=4, identical to the fixed-bit behavior.

SIGN_OCCUPANCY = 128
SIGN_BITS_MIN = N_SIGN_BITS
SIGN_BITS_MAX = 16


def sign_bits_for(n_col):
    """Column-valued adaptive bit count from a corpus-count column."""
    c = F.when(
        n_col <= (SIGN_OCCUPANCY << SIGN_BITS_MIN), F.lit(SIGN_BITS_MIN)
    )
    for b in range(SIGN_BITS_MIN + 1, SIGN_BITS_MAX):
        c = c.when(n_col <= (SIGN_OCCUPANCY << b), F.lit(b))
    return c.otherwise(F.lit(SIGN_BITS_MAX))


def sign_bucket_adaptive(vec, bits_col):
    """Sign bucket over the first ``bits_col`` axis hyperplanes."""
    return sum(
        F.when(
            (F.lit(b) < bits_col) & (F.element_at(vec, b + 1) >= 0),
            F.lit(1 << b),
        ).otherwise(0)
        for b in range(SIGN_BITS_MAX)
    ).cast("int")


def _sign_bits_sql(n_expr: str) -> str:
    whens = " ".join(
        f"WHEN ({n_expr}) <= {SIGN_OCCUPANCY << b} THEN {b}"
        for b in range(SIGN_BITS_MIN, SIGN_BITS_MAX)
    )
    return f"(CASE {whens} ELSE {SIGN_BITS_MAX} END)"


def _sign_bucket_adaptive_sql(vec_expr: str, bits_expr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {b} < {bits_expr} AND {vec_expr}[{b + 1}] >= 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(SIGN_BITS_MAX)
    )
    return f"CAST({terms} AS INT)"


def topk_bruteforce(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector (self excluded).
    The query side is broadcast — the corpus never shuffles."""
    q = F.broadcast(
        queries_df.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(F.col(vec_col)).alias("qn"),
        )
    )
    c = corpus_df.select(
        F.col(id_col).alias("vec_id_c"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    sim = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        q.join(c, F.col("query_id") != F.col("vec_id_c"))
        .select("query_id", F.col("vec_id_c").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", fround(F.col("sim"), 4).alias("sim"))
    )


def topk_bucketed(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket. The bucket id becomes the join key, so the probe is a
    hash join on a 2^B-ary partition — no full scan per query. B is
    occupancy-adaptive (``sign_bits_for``) so per-query candidate
    counts stay bounded as the corpus grows."""
    n = corpus_df.agg(F.count(F.lit(1)).alias("n_corpus"))
    q = F.broadcast(
        queries_df.crossJoin(F.broadcast(n)).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(F.col(vec_col)).alias("qn"),
            sign_bucket_adaptive(
                F.col(vec_col), sign_bits_for(F.col("n_corpus"))
            ).alias("bucket"),
        )
    )
    c = corpus_df.crossJoin(F.broadcast(n)).select(
        F.col(id_col).alias("vec_id_c"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
        sign_bucket_adaptive(
            F.col(vec_col), sign_bits_for(F.col("n_corpus"))
        ).alias("bucket"),
    )
    sim = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("vec_id_c"))
        .select(
            "query_id", "bucket", F.col("vec_id_c").alias("neighbor_id"), sim.alias("sim")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "bucket", "rank", "neighbor_id", fround(F.col("sim"), 4).alias("sim")
        )
    )


IVF_K = 8  # coarse-quantizer cells
NPROBE = 2  # cells searched per query


def ivf_centroids(corpus_df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic coarse quantizer: the first ``IVF_K`` vectors by
    id. Real deployments train these with k-means over a sample; a
    fixed choice keeps the whole index + probe pipeline reproducible
    in any engine (the oracle requirement) while exercising the
    identical IVF dataflow — the centroid SOURCE is orthogonal to the
    index structure."""
    return corpus_df.filter(F.col(id_col) < IVF_K).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )


def kmeans_centroids(
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = IVF_K,
    max_iter: int = 5,
) -> DataFrame:
    """Spherical k-means (Lloyd's) for PRODUCTION IVF centroids —
    drop-in replacement for :func:`ivf_centroids` when oracle
    reproducibility isn't required. Deterministic given the data:
    init = first ``k`` vectors by id, fixed iteration count, cosine
    assignment with centroid-id tie-break.

    Each round is one broadcast cross join (assignment) + one
    (cid, dim) aggregation (new means via posexplode — shuffle rows
    = N×d, fine for embedding dims). ``localCheckpoint`` truncates
    the iterative lineage, same as ``operators.graph`` — without it
    planning cost grows per round."""
    # lazy checkpoints: no per-round blocking materialization job —
    # the final action materializes the whole round chain through the
    # truncated-lineage boundaries (same pattern as operators/graph).
    cents = (
        corpus_df.filter(F.col(id_col) < k)
        .select(F.col(id_col).cast("int").alias("cid"), F.col(vec_col).alias("cv"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        sim = fround(cosine_similarity(F.col(vec_col), F.col("cv")), 6)
        w = W.partitionBy(id_col).orderBy(F.col("_csim").desc(), F.col("cid"))
        assigned = (
            corpus_df.select(id_col, vec_col)
            .crossJoin(F.broadcast(cents))
            .withColumn("_csim", sim)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("cid", vec_col)
        )
        cents = (
            assigned.select("cid", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .localCheckpoint(eager=False)
        )
    return cents


def ivf_assign(
    corpus_df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Build the inverted file: every vector labeled with its nearest
    centroid (max floored cosine, centroid-id tie-break). One
    broadcast cross join + one window shuffle over the corpus. At
    cluster scale this frame is written partitioned by ``cid`` — the
    probe then touches only ``NPROBE`` partitions (partition pruning
    does the candidate restriction for free)."""
    cents_n = centroids.withColumn("_cn", l2_norm("cv"))
    sim = fround(cosine_from_norms(F.col(vec_col), F.col("cv"), F.col("_vn"), F.col("_cn")), 6)
    w = W.partitionBy(id_col).orderBy(F.col("_csim").desc(), F.col("cid"))
    return (
        corpus_df.withColumn("_vn", l2_norm(vec_col))
        .crossJoin(F.broadcast(cents_n))
        .withColumn("_csim", sim)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, "cid")
    )


def ivf_assign_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the inverted file over the embeddings table:
    (vec_id, embedding, cid) under the deterministic first-``IVF_K``
    coarse quantizer. Five slugs (``ann_topk_ivf``, ``ann_topk_ivfpq``,
    ``ann_nprobe_curve``, ``dedup_semantic_cluster``,
    ``ann_ivf_balance_audit``) probe the SAME index — production
    materializes the IVF build once and every query serves from it;
    recomputing the broadcast-assignment pass per slug was pure waste."""
    def build() -> DataFrame:
        emb = fan_out(load_table(spark, sf_dir, "embeddings"))
        return ivf_assign(
            emb, ivf_centroids(emb, "vec_id", "embedding"), "vec_id", "embedding"
        )

    return session_index(spark, sf_dir, f"ivf-assign-k{IVF_K}", build)


def topk_ivf(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    nprobe: int = NPROBE,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF probe: rank centroids per query, search the top ``nprobe``
    cells only. Approximate (a true neighbor in an unprobed cell is
    missed) — recall vs cost is tuned by NPROBE, cost drops
    ~|cells|/NPROBE vs brute force."""
    cents = ivf_centroids(corpus_df, id_col, vec_col)
    if assigned is None:
        assigned = ivf_assign(corpus_df, cents, id_col, vec_col)
    cents_n = cents.withColumn("_cn", l2_norm("cv"))
    qsim = fround(cosine_from_norms("qv", "cv", "qn", "_cn"), 6)
    wq = W.partitionBy("query_id").orderBy(F.col("_csim").desc(), F.col("cid"))
    probe = (
        queries_df.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(F.col(vec_col)).alias("qn"),
        )
        .crossJoin(F.broadcast(cents_n))
        .withColumn("_csim", qsim)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "qn", "cid")
    )
    sim = fround(cosine_from_norms("qv", "cv2", "qn", "cn2"), 6)
    wr = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    cand = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv2"),
        l2_norm(F.col(vec_col)).alias("cn2"),
        "cid",
    )
    return (
        F.broadcast(probe)
        .join(cand, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", F.col("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", fround(F.col("sim"), 4).alias("sim"))
    )


# --- registry queries -----------------------------------------------

ANN_QUERY_CAP = 20_000  # query panel drawn from ids BELOW this only
# The ANN query panel must be FIXED-SIZE, never a corpus fraction:
# "every 100th vector" made query count scale with the corpus, so
# queries x probed-candidates turned the whole ANN family quadratic
# (sf1->sf10 sweep measured exponent 1.42 on ann_topk_ivfpq before
# this cap — the same defect class as a decontamination benchmark
# drawn as a corpus fraction). ids ≡ 0 (mod 100) below 20k = 200 queries at
# sf1 and beyond; unchanged at the gate scales (corpus < cap there).
_QUERY_PRED = f"vec_id % 100 = 0 AND vec_id < {ANN_QUERY_CAP}"


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    return topk_bruteforce(qs, emb, "vec_id", "embedding", k=5)


ORACLE["ann_topk_bruteforce"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {_QUERY_PRED.replace('vec_id', 'vec_id')}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         floor(round(list_cosine_similarity(q.qv, e.v), 10) * 1000000) / 1000000 AS sim
  FROM q JOIN e ON q.query_id <> e.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, floor(round(sim, 8) * 10000) / 10000 AS sim
FROM ranked WHERE rank <= 5
"""


def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIZED brute-force ANN: the same exact top-k search run over
    int8-RECONSTRUCTED vectors — the memory-bound configuration every
    billion-vector index actually serves (4 bytes → 1 byte per dim;
    at 100 TB the index fits in a quarter of the RAM). Reconstruction
    (mn + round((x−mn)/scale)·scale, per vector) reuses the affine
    arithmetic of ``embedding_quantize_int8`` — identical IEEE ops in
    identical order in both engines, so the oracle reproduces the
    entire quantize→decode→search pipeline bit-for-bit. Read next to
    ``ann_topk_bruteforce`` for the ranking drift compression buys."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    v = F.col("embedding")
    mn = F.array_min(v).cast("double")
    scale = (F.array_max(v).cast("double") - mn) / F.lit(255.0)
    recon = F.when(
        scale > 0,
        F.transform(
            v,
            lambda x: mn
            + F.floor((x.cast("double") - mn) / scale + F.lit(0.5)) * scale,
        ),
    ).otherwise(F.transform(v, lambda x: mn))
    recq = emb.select("vec_id", recon.alias("recon"))
    qs = recq.filter(F.expr(_QUERY_PRED))
    return topk_bruteforce(qs, recq, "vec_id", "recon", k=5)


ORACLE["ann_topk_int8"] = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS ve,
         list_min(embedding)::DOUBLE AS mn,
         (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0
           AS scale
  FROM embeddings
),
rec AS (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(ve, x -> mn + floor((x - mn) / scale + 0.5) * scale)
              ELSE list_transform(ve, x -> mn)
         END AS v
  FROM base
),
q AS (SELECT vec_id AS query_id, v AS qv FROM rec WHERE {_QUERY_PRED}),
scored AS (
  SELECT q.query_id, rec.vec_id AS neighbor_id,
         floor(round(list_cosine_similarity(q.qv, rec.v), 10) * 1000000) / 1000000 AS sim
  FROM q JOIN rec ON q.query_id <> rec.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, floor(round(sim, 8) * 10000) / 10000 AS sim
FROM ranked WHERE rank <= 5
"""


RERANK_COARSE_C = 20  # stage-1 candidate pool per query
RERANK_K = 5  # final exact top-k


def ann_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage retrieval pattern: a CHEAP coarse scan
    selects {RERANK_COARSE_C} candidates per query, an EXACT rescore
    ranks only those — stage 1 runs over int8-reconstructed vectors
    (¼ the bytes of float32: the memory-bound scan every
    billion-vector serving tier actually affords, reusing
    ``ann_topk_int8``'s affine arithmetic bit-for-bit), stage 2
    touches full-precision vectors for just |Q|×{RERANK_COARSE_C}
    rows. At 100 TB the full-precision corpus is read via a join
    against the BROADCAST candidate list — the expensive vectors
    stream through exactly once and only candidate rows surface; no
    per-query corpus scan ever happens at double width. Output keeps
    ``coarse_rank`` next to the exact rank so the reorder the cheap
    stage would have gotten wrong is visible per row — the built-in
    audit of what quantization costs AFTER reranking (compare
    ``ann_topk_int8``, which serves the quantized ranking as-is)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    v = F.col("embedding")
    mn = F.array_min(v).cast("double")
    scale = (F.array_max(v).cast("double") - mn) / F.lit(255.0)
    recon = F.when(
        scale > 0,
        F.transform(
            v,
            lambda x: mn
            + F.floor((x.cast("double") - mn) / scale + F.lit(0.5)) * scale,
        ),
    ).otherwise(F.transform(v, lambda x: mn))
    rec = emb.select("vec_id", recon.alias("rv"))
    qc = F.broadcast(
        rec.filter(F.expr(_QUERY_PRED)).select(
            F.col("vec_id").alias("query_id"),
            F.col("rv").alias("qrv"),
            l2_norm(F.col("rv")).alias("qrn"),
        )
    )
    cc = rec.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("rv").alias("crv"),
        l2_norm(F.col("rv")).alias("crn"),
    )
    wc = W.partitionBy("query_id").orderBy(F.col("csim").desc(), "neighbor_id")
    cand = (
        qc.join(cc, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            fround(cosine_from_norms("qrv", "crv", "qrn", "crn"), 6).alias(
                "csim"
            ),
        )
        .withColumn("coarse_rank", F.row_number().over(wc))
        .filter(F.col("coarse_rank") <= RERANK_COARSE_C)
        .select("query_id", "neighbor_id", "coarse_rank")
    )
    full = emb.select(
        "vec_id",
        F.col("embedding").alias("fv"),
        l2_norm(F.col("embedding")).alias("fn"),
    )
    qf = F.broadcast(
        full.filter(F.expr(_QUERY_PRED)).select(
            F.col("vec_id").alias("query_id"),
            F.col("fv").alias("qfv"),
            F.col("fn").alias("qfn"),
        )
    )
    rescored = (
        full.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(cand), "neighbor_id")
        .join(qf, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "coarse_rank",
            fround(cosine_from_norms("qfv", "fv", "qfn", "fn"), 6).alias(
                "esim"
            ),
        )
    )
    we = W.partitionBy("query_id").orderBy(F.col("esim").desc(), "neighbor_id")
    return (
        rescored.withColumn("rank", F.row_number().over(we))
        .filter(F.col("rank") <= RERANK_K)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            fround(F.col("esim"), 4).alias("sim"),
            "coarse_rank",
        )
        .orderBy("query_id", "rank")
    )


ORACLE["ann_rerank_two_stage"] = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS ve,
         list_min(embedding)::DOUBLE AS mn,
         (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0
           AS scale
  FROM embeddings
),
rec AS (
  SELECT vec_id, ve,
         CASE WHEN scale > 0
              THEN list_transform(ve, x -> mn + floor((x - mn) / scale + 0.5) * scale)
              ELSE list_transform(ve, x -> mn)
         END AS rv
  FROM base
),
qc AS (SELECT vec_id AS query_id, rv AS qrv FROM rec WHERE {_QUERY_PRED}),
coarse AS (
  SELECT qc.query_id, rec.vec_id AS neighbor_id,
         floor(round(list_cosine_similarity(qc.qrv, rec.rv), 10) * 1000000)
           / 1000000 AS csim
  FROM qc JOIN rec ON qc.query_id <> rec.vec_id
),
cand AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY csim DESC, neighbor_id) AS coarse_rank
  FROM coarse QUALIFY coarse_rank <= {RERANK_COARSE_C}
),
qf AS (SELECT vec_id AS query_id, ve AS qve FROM rec WHERE {_QUERY_PRED}),
rescored AS (
  SELECT cand.query_id, cand.neighbor_id, cand.coarse_rank,
         floor(round(list_cosine_similarity(qf.qve, rec.ve), 10) * 1000000)
           / 1000000 AS esim
  FROM cand
  JOIN rec ON rec.vec_id = cand.neighbor_id
  JOIN qf ON qf.query_id = cand.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, coarse_rank, esim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY esim DESC, neighbor_id) AS rank
  FROM rescored
)
SELECT query_id, rank, neighbor_id,
       floor(round(esim, 8) * 10000) / 10000 AS sim, coarse_rank
FROM ranked WHERE rank <= {RERANK_K}
ORDER BY query_id, rank
"""


def ann_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    return topk_bucketed(qs, emb, "vec_id", "embedding", k=3)


ORACLE["ann_topk_bucketed"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sign_bucket_adaptive_sql(
             'embedding', _sign_bits_sql('(SELECT count(*) FROM embeddings)')
         )} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE {_QUERY_PRED}),
scored AS (
  SELECT q.query_id, q.bucket, e.vec_id AS neighbor_id,
         floor(round(list_cosine_similarity(q.qv, e.v), 10) * 1000000) / 1000000 AS sim
  FROM q JOIN e USING (bucket)
  WHERE q.query_id <> e.vec_id
),
ranked AS (
  SELECT query_id, bucket, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, bucket, rank, neighbor_id, floor(round(sim, 8) * 10000) / 10000 AS sim
FROM ranked WHERE rank <= 3
"""


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    return topk_ivf(
        qs,
        emb,
        "vec_id",
        "embedding",
        k=3,
        assigned=ivf_assign_index(spark, sf_dir),
    )


def _cos_sql(a: str, b: str) -> str:
    return f"floor(round(list_cosine_similarity({a}, {b}), 10) * 1000000) / 1000000"


ORACLE["ann_topk_ivf"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_K}),
asg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e CROSS JOIN c
  ) t WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {_QUERY_PRED}),
probe AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cid) AS rn
    FROM q CROSS JOIN c
  ) t WHERE rn <= {NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_cos_sql('p.qv', 'a.v')} AS sim
  FROM probe p JOIN asg a USING (cid)
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id,
       floor(round(sim, 8) * 10000) / 10000 AS sim
FROM ranked WHERE rank <= 3
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column, flattened to
    (label, dim, centroid) rows. The vector-aggregate shape every
    feature pipeline needs (class prototypes, IVF coarse quantizers,
    cluster summaries): posexplode keeps the arithmetic JVM-side and
    the single shuffle is on (label, dim) — |labels|×d cells, even
    spread regardless of how skewed the per-label row counts are
    (the partial aggregate collapses each partition's contribution
    first)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            fround(F.avg(F.col("v").cast("double")), 6).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


ORACLE["embedding_centroids"] = """
SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
       floor(round(avg(v), 10) * 1000000) / 1000000 AS centroid
FROM (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
) t
GROUP BY 1, 2
ORDER BY 1, 2
"""


def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label prediction for the query vectors —
    exact top-5 cosine neighbors per query (self excluded), then a
    per-query vote (ties broken toward the smaller label). The
    evaluation shape for every embedding index: compare ``pred_label``
    with the stored ``label``. Builds on the same broadcast-scored
    ranking as ``ann_topk_bruteforce``, so the corpus never
    shuffles; the vote aggregates ≤ k rows per query."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    nn = topk_bruteforce(qs, emb, "vec_id", "embedding", k=5)
    lab = emb.select(F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        nn.join(F.broadcast(lab), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    truth = emb.select(F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
        .join(F.broadcast(truth), "query_id")
        .orderBy("query_id")
    )


ORACLE["knn_classify"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {_QUERY_PRED}),
ranked AS (
  SELECT query_id, neighbor_id, lbl, row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS lbl,
           {_cos_sql('q.qv', 'e.v')} AS sim
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) s
),
votes AS (
  SELECT query_id, lbl, count(*) AS n_votes
  FROM ranked WHERE rank <= 5 GROUP BY 1, 2
),
winner AS (
  SELECT query_id, lbl, n_votes, row_number() OVER (
           PARTITION BY query_id ORDER BY n_votes DESC, lbl) AS rn
  FROM votes
)
SELECT w.query_id, w.lbl AS pred_label, w.n_votes, e.label AS true_label
FROM winner w JOIN e ON e.vec_id = w.query_id
WHERE w.rn = 1
ORDER BY w.query_id
"""


KMEANS_K = 8  # Lloyd cluster count (shared by kmeans + purity slugs)
KMEANS_ITERS = 3  # unrolled Lloyd rounds (oracle chains the same CTEs)


def kmeans_centroids_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the deterministic Lloyd centroid table over
    the embeddings dataset — ``embedding_kmeans`` and
    ``embedding_cluster_purity`` describe the SAME clustering by
    construction, so recomputing the full assign→update trace per slug
    doubled the most expensive stage for nothing. The trace is
    deterministic, so sharing the materialized centroids cannot change
    any value the oracle checks."""
    return session_index(
        spark, sf_dir, f"kmeans-k{KMEANS_K}-i{KMEANS_ITERS}",
        lambda: kmeans_centroids(
            load_table(spark, sf_dir, "embeddings"),
            "vec_id",
            "embedding",
            k=KMEANS_K,
            max_iter=KMEANS_ITERS,
        ),
    )


def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd's k-means over the embeddings table (k = 8,
    3 rounds, deterministic init = first k ids) summarized as
    per-cluster (n_assigned, mean cosine to centroid). The per-round
    plan is broadcast-assign + (cid, dim) mean aggregation. The trace
    is deterministic (fixed init, fixed iteration count, floored-
    cosine assignment with centroid-id tie-break), so the oracle
    UNROLLS the 3 Lloyd iterations as chained CTEs — fully
    value-checked despite being an iterative algorithm; a numpy
    golden test (``tests/test_llm_ops.py::
    test_embedding_kmeans_numpy_golden``) independently pins the same
    trace."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_index(spark, sf_dir)
    sim = fround(cosine_similarity(F.col("embedding"), F.col("cv")), 6)
    w = W.partitionBy("vec_id").orderBy(F.col("_csim").desc(), F.col("cid"))
    assigned = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cents))
        .withColumn("_csim", sim)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            fround(F.avg("_csim"), 4).alias("mean_cos"),
        )
        .orderBy("cid")
    )


def _kmeans_oracle(k: int = 8, iters: int = 3, tail: str | None = None) -> str:
    """DuckDB replay of the exact Lloyd trace ``embedding_kmeans``
    runs: deterministic init (first ``k`` vec_ids), then ``iters``
    unrolled assign→update rounds as chained CTEs (fixed iteration
    count ⇒ no recursion needed), then the final assignment summary.
    Assignment uses the same floored cosine (`_cos_sql` ≡ Spark's
    ``fround(cos, 6)``) and centroid-id tie-break, so both engines
    take identical argmax decisions; centroid updates are per-
    (cid, pos) means rebuilt into ordered lists."""
    ctes = [
        "emb AS (SELECT vec_id, embedding FROM embeddings)",
        f"""c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
  FROM emb WHERE vec_id < {k})""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM emb e CROSS JOIN c{i - 1} c) WHERE rn = 1)""")
        ctes.append(f"""c{i} AS (
  SELECT cid, list(m ORDER BY pos) AS cv FROM (
    SELECT cid, pos, avg(val) AS m FROM (
      SELECT cid, unnest(embedding) AS val,
             generate_subscripts(embedding, 1) AS pos FROM a{i})
    GROUP BY cid, pos) GROUP BY cid)""")
    ctes.append(f"""fin AS (
  SELECT vec_id, cid, sim FROM (
    SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cv')} AS sim,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM emb e CROSS JOIN c{iters} c) WHERE rn = 1)""")
    body = ",\n".join(ctes)
    if tail is None:
        tail = f"""
SELECT cid, count(*) AS n_assigned,
       {fround_sql("avg(sim)", 4)} AS mean_cos
FROM fin GROUP BY cid ORDER BY cid
"""
    return f"WITH {body}\n{tail}"


ORACLE["embedding_kmeans"] = _kmeans_oracle(k=KMEANS_K, iters=KMEANS_ITERS)


def embedding_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity of the SAME deterministic Lloyd trace as
    embedding_kmeans, scored against the supervised labels — the
    evaluation that says whether unsupervised structure recovers the
    labeling (purity = majority-label share per cluster; weighted
    purity = the corpus-level number model cards quote). Reuses the
    identical assign→update unroll (shared helper + shared oracle
    prefix), so the two slugs are guaranteed to describe the same
    clustering; the add-on cost is one |clusters|×|labels| aggregate
    and an argmax window over it."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids_index(spark, sf_dir)
    sim = fround(cosine_similarity(F.col("embedding"), F.col("cv")), 6)
    w = W.partitionBy("vec_id").orderBy(F.col("_csim").desc(), F.col("cid"))
    assigned = (
        emb.select("vec_id", "embedding", "label")
        .crossJoin(F.broadcast(cents))
        .withColumn("_csim", sim)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("cid", "label")
    )
    counts = assigned.groupBy("cid", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    warg = W.partitionBy("cid").orderBy(F.col("n").desc(), F.col("label"))
    tot = counts.groupBy("cid").agg(F.sum("n").alias("n_assigned"))
    top = (
        counts.withColumn("_rn", F.row_number().over(warg))
        .filter(F.col("_rn") == 1)
        .select("cid", F.col("label").alias("majority_label"), F.col("n").alias("n_majority"))
    )
    return (
        tot.join(F.broadcast(top), "cid")
        .select(
            "cid",
            "n_assigned",
            "majority_label",
            fround(F.col("n_majority") / F.col("n_assigned"), 6).alias(
                "purity"
            ),
        )
        .orderBy("cid")
    )


ORACLE["embedding_cluster_purity"] = _kmeans_oracle(
    k=KMEANS_K,
    iters=KMEANS_ITERS,
    tail=f"""
, lab AS (
  SELECT f.cid, e2.label, count(*) AS n
  FROM fin f JOIN embeddings e2 ON e2.vec_id = f.vec_id
  GROUP BY 1, 2
),
tot AS (SELECT cid, sum(n) AS n_assigned FROM lab GROUP BY 1),
top AS (
  SELECT cid, label AS majority_label, n AS n_majority
  FROM (
    SELECT cid, label, n, row_number() OVER (
             PARTITION BY cid ORDER BY n DESC, label) AS rn
    FROM lab) WHERE rn = 1
)
SELECT t.cid,
       CAST(t.n_assigned AS BIGINT) AS n_assigned,
       p.majority_label,
       {fround_sql("p.n_majority / CAST(t.n_assigned AS DOUBLE)", 6)} AS purity
FROM tot t JOIN top p USING (cid)
ORDER BY t.cid
""",
)


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization report — the compression step an
    ANN index applies before storing billions of vectors: affine map
    of each vector onto [0, 255] by its own min/max, then the
    round-trip reconstruction error. Pure array expressions (zero
    Python, zero shuffle beyond the scan); the quantized codes are
    integers from identical IEEE arithmetic in both engines, so the
    whole report is exactly oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    mn = F.array_min(v)
    mx = F.array_max(v)
    scale = (mx.cast("double") - mn.cast("double")) / F.lit(255.0)
    # guard constant vectors: scale 0 → all codes 0
    code = F.when(
        scale > 0,
        F.transform(
            v,
            lambda x: F.floor(
                (x.cast("double") - mn.cast("double")) / scale + F.lit(0.5)
            ).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    recon_err = F.when(
        scale > 0,
        F.aggregate(
            F.zip_with(
                v,
                code,
                lambda x, c: F.abs(
                    x.cast("double")
                    - (mn.cast("double") + c.cast("double") * scale)
                ),
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        / F.size(v),
    ).otherwise(F.lit(0.0))
    return emb.select(
        "vec_id",
        F.size(v).alias("n_dims"),
        F.array_min(code).alias("qmin"),
        F.array_max(code).alias("qmax"),
        fround(recon_err, 6).alias("mean_abs_err"),
    )


ORACLE["embedding_quantize_int8"] = f"""
WITH base AS (
  SELECT vec_id, embedding,
         list_min(embedding)::DOUBLE AS mn,
         (list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE) / 255.0 AS scale
  FROM embeddings
),
coded AS (
  SELECT vec_id, embedding, mn, scale,
         CASE WHEN scale > 0
              THEN list_transform(embedding,
                     x -> CAST(floor((x::DOUBLE - mn) / scale + 0.5) AS INT))
              ELSE list_transform(embedding, x -> 0)
         END AS code
  FROM base
)
SELECT vec_id,
       CAST(len(embedding) AS INT) AS n_dims,
       list_min(code) AS qmin,
       list_max(code) AS qmax,
       {fround_sql("CASE WHEN scale > 0 THEN list_sum(list_transform(list_zip(embedding, code), p -> abs(p[1]::DOUBLE - (mn + p[2]::DOUBLE * scale)))) / len(embedding) ELSE 0.0 END", 6)} AS mean_abs_err
FROM coded
"""


def embedding_text_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal alignment join: documents ⋈ embeddings on the
    shared id, rolled up per language — the sanity report ("does every
    doc have a vector, and do norms look right per slice") a
    text+vector corpus runs before training. The embeddings side
    projects to (id, norm) before the join, so only 12 bytes/row reach
    the shuffle; per-vector norms are grid-snapped before averaging so
    the cross-engine comparison is summation-order-proof."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    vecs = emb.select(F.col("vec_id").alias("doc_id"), fround(norm, 4).alias("norm"))
    return (
        docs.join(vecs, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("norm").isNotNull().cast("bigint")).alias("n_with_vec"),
            fround(F.avg("norm"), 4).alias("avg_norm"),
        )
        .orderBy("lang")
    )


ORACLE["embedding_text_align"] = f"""
WITH vecs AS (
  SELECT vec_id AS doc_id,
         {fround_sql("sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))", 4)} AS norm
  FROM embeddings
)
SELECT d.lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN v.norm IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_vec,
       {fround_sql("avg(v.norm)", 4)} AS avg_norm
FROM documents d LEFT JOIN vecs v USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""


_COV_DIMS = 8


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the leading ``_COV_DIMS`` embedding
    dimensions, long-form (i, j, cov) upper triangle — the sufficient-
    statistics pass behind PCA/whitening of an embedding corpus. All
    d·(d+1)/2 co-moments + d means fold into ONE aggregation: every
    statistic is algebraic, so map-side partials reduce the shuffle to
    one row per partition no matter the corpus size (the full-width
    variant at d=512+ swaps the expression list for numpy partial Gram
    matrices in mapInPandas and sums them — same single-pass shape).
    Population covariance E[xy] − E[x]E[y]: identical IEEE expression
    both engines, fround-guarded."""
    return _cov_cells(spark, sf_dir)


def _cov_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, cov) upper triangle of the leading-_COV_DIMS covariance
    — shared by the covariance report and the power-iteration PCA."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = _COV_DIMS
    el = lambda i: F.col("embedding").getItem(i).cast("double")  # noqa: E731
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(el(i)).alias(f"s{i}") for i in range(d)]
    aggs += [
        F.sum(el(i) * el(j)).alias(f"p{i}_{j}")
        for i in range(d)
        for j in range(i, d)
    ]
    wide = emb.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                fround(
                    F.col(f"p{i}_{j}") / F.col("n")
                    - (F.col(f"s{i}") / F.col("n")) * (F.col(f"s{j}") / F.col("n")),
                    6,
                ).alias("cov"),
            )
            for i in range(d)
            for j in range(i, d)
        ]
    )
    return wide.select(F.explode(cells).alias("c")).select("c.*")


def _covariance_oracle() -> str:
    from mapreduce_rust_spark.functions.numeric import fround_sql

    d = _COV_DIMS
    parts = []
    for i in range(d):
        for j in range(i, d):
            # DuckDB lists are 1-based
            expr = (
                f"sum(CAST(embedding[{i+1}] AS DOUBLE) * CAST(embedding[{j+1}] AS DOUBLE)) / count(*)"
                f" - (sum(CAST(embedding[{i+1}] AS DOUBLE)) / count(*))"
                f" * (sum(CAST(embedding[{j+1}] AS DOUBLE)) / count(*))"
            )
            parts.append(
                f"SELECT {i} AS i, {j} AS j, {fround_sql(expr, 6)} AS cov FROM embeddings"
            )
    return "\nUNION ALL\n".join(parts)


ORACLE["embedding_covariance"] = _covariance_oracle()


PI_ROUNDS = 3  # fixed power-iteration rounds (oracle-unrollable)


def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the leading-{_COV_DIMS} covariance by
    {PI_ROUNDS} POWER-ITERATION rounds — the iterative linear algebra
    beyond k-means (PCA/whitening/spectral methods all start here):
    v ← normalize(C·v) from the e₀ basis vector, plus the Rayleigh
    quotient vᵀCv (the dominant-eigenvalue estimate) on the result.

    The corpus is touched ONCE (the single-pass covariance
    aggregation, map-side partials); every iteration is a matvec as a
    join over the d² = {_COV_DIMS}² cell frame — model-sized, never
    data-sized, the same separation k-means uses. Components are
    fround-snapped after each normalize so the DuckDB twin (the same
    {PI_ROUNDS} rounds unrolled as CTEs) tracks bit-for-bit."""
    tri = _cov_cells(spark, sf_dir)
    cov = tri.unionAll(
        tri.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    ).localCheckpoint(eager=False)
    v = spark.range(_COV_DIMS).select(
        F.col("id").cast("int").alias("dim"),
        F.when(F.col("id") == 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("comp"),
    )
    for _ in range(PI_ROUNDS):
        # v is model-sized (≤ _COV_DIMS rows) but derived through an
        # agg chain whose size estimate the planner can't see —
        # without the hint every matvec planned as a shuffle join of
        # two tiny frames (2 extra Exchanges × PI_ROUNDS sequential
        # stages). Broadcast it explicitly (guide §3.1).
        # checkpoint each iterate: w feeds BOTH nrm and v, and v feeds
        # the next round twice over — without truncation the unrolled
        # chain duplicated every prior round's subtree into each
        # consumer (the registered plan reached 264 Exchanges; with
        # per-round truncation it is linear in PI_ROUNDS). The
        # materialized frames are model-sized (≤ _COV_DIMS rows).
        w = (
            cov.join(F.broadcast(v), cov["j"] == v["dim"])
            .groupBy(F.col("i").alias("wdim"))
            .agg(F.sum(F.col("cov") * F.col("comp")).alias("w"))
        ).localCheckpoint(eager=False)
        nrm = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("wdim").alias("dim"),
            fround(F.col("w") / F.col("nrm"), 8).alias("comp"),
        ).localCheckpoint(eager=False)
    cv = (
        cov.join(F.broadcast(v), cov["j"] == v["dim"])
        .groupBy(F.col("i").alias("dim2"))
        .agg(F.sum(F.col("cov") * F.col("comp")).alias("cw"))
    )
    rayleigh = (
        cv.join(F.broadcast(v), cv["dim2"] == v["dim"])
        .agg(fround(F.sum(F.col("cw") * F.col("comp")), 6).alias("rayleigh"))
    )
    return (
        v.crossJoin(F.broadcast(rayleigh))
        .select("dim", fround(F.col("comp"), 6).alias("component"), "rayleigh")
        .orderBy("dim")
    )


def _power_iteration_oracle() -> str:
    from mapreduce_rust_spark.functions.numeric import fround_sql

    ctes = [
        f"tri AS MATERIALIZED ({_covariance_oracle()})",
        "cov AS (SELECT i, j, cov FROM tri"
        " UNION ALL SELECT j AS i, i AS j, cov FROM tri WHERE i <> j)",
        f"v0 AS (SELECT i AS dim,"
        f" CASE WHEN i = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END"
        f" AS comp FROM (SELECT unnest(range(0, {_COV_DIMS})) AS i))",
    ]
    prev = "v0"
    for t in range(1, PI_ROUNDS + 1):
        ctes.append(
            f"w{t} AS (SELECT cov.i AS dim, sum(cov.cov * {prev}.comp) AS w"
            f" FROM cov JOIN {prev} ON cov.j = {prev}.dim GROUP BY 1)"
        )
        ctes.append(
            f"n{t} AS (SELECT sqrt(sum(w * w)) AS nrm FROM w{t})"
        )
        ctes.append(
            f"v{t} AS (SELECT dim, {fround_sql('w / nrm', 8)} AS comp"
            f" FROM w{t} CROSS JOIN n{t})"
        )
        prev = f"v{t}"
    ctes.append(
        f"cw AS (SELECT cov.i AS dim, sum(cov.cov * {prev}.comp) AS cw"
        f" FROM cov JOIN {prev} ON cov.j = {prev}.dim GROUP BY 1)"
    )
    ctes.append(
        f"rq AS (SELECT {fround_sql('sum(cw.cw * v.comp)', 6)} AS rayleigh"
        f" FROM cw JOIN {prev} v ON cw.dim = v.dim)"
    )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT v.dim, {fround_sql("v.comp", 6)} AS component, rq.rayleigh
FROM {prev} v CROSS JOIN rq
ORDER BY v.dim
"""


ORACLE["embedding_power_iteration"] = _power_iteration_oracle()


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the sign-LSH bucketed ANN against exact brute-force
    truth, per query — the ANN-family twin of ``dedup_lsh_eval``: the
    audit you run on a sample before trusting the sublinear path with
    the full corpus (where brute force is unaffordable by definition,
    exactly as there). Both top-k frames already exist as registry
    plans; the eval is one join on (query, neighbor) plus a per-query
    rollup — query-count-sized, never corpus-sized."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    exact = topk_bruteforce(qs, emb, "vec_id", "embedding", k=3).select(
        "query_id", "neighbor_id"
    )
    approx = topk_bucketed(qs, emb, "vec_id", "embedding", k=3).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            fround(F.coalesce("n_hits", F.lit(0)) / F.col("k"), 4).alias("recall"),
        )
        .orderBy("query_id")
    )


ORACLE["ann_recall_eval"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sign_bucket_adaptive_sql(
             'embedding', _sign_bits_sql('(SELECT count(*) FROM embeddings)')
         )} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE {_QUERY_PRED}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) WHERE rank <= 3
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e USING (bucket)
    WHERE q.query_id <> e.vec_id
  ) WHERE rank <= 3
),
hits AS (
  SELECT query_id, count(*) AS n_hits
  FROM exact JOIN approx USING (query_id, neighbor_id)
  GROUP BY 1
),
base AS (SELECT query_id, count(*) AS k FROM exact GROUP BY 1)
SELECT b.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       {fround_sql("coalesce(h.n_hits, 0)::DOUBLE / b.k", 4)} AS recall
FROM base b LEFT JOIN hits h USING (query_id)
ORDER BY b.query_id
"""


def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@3 of the sign-LSH ANN path against brute-force truth —
    the GRADED companion to ann_recall_eval: recall treats every true
    neighbor as equally valuable; nDCG credits the approximate
    ranking by how much cosine relevance it actually surfaces and in
    what order (rel_i/log₂(i+1), normalized by the ideal ranking's
    DCG) — the metric retrieval evals quote when near-misses still
    carry value. Relevance grade = the exact cosine the scorer
    already computes (clipped at 0), so no second distance pass:
    both top-k frames are existing registry plans and the eval adds
    two query-sized rollups and a division."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    exact = topk_bruteforce(qs, emb, "vec_id", "embedding", k=3)
    approx = topk_bucketed(qs, emb, "vec_id", "embedding", k=3)

    def dcg(df):
        return df.groupBy("query_id").agg(
            F.sum(
                F.greatest(F.col("sim"), F.lit(0.0))
                / F.log2(F.col("rank") + 1)
            ).alias("dcg"),
            F.count(F.lit(1)).alias("n"),
        )

    a = dcg(approx).select(
        "query_id",
        F.col("dcg").alias("dcg_approx"),
        F.col("n").alias("n_retrieved"),
    )
    i = dcg(exact).select("query_id", F.col("dcg").alias("idcg"))
    # both sides are query-count-sized; broadcast the approx side so
    # the planner never falls back to a sort-merge on unknown stats
    return (
        i.join(F.broadcast(a), "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_retrieved", F.lit(0)).alias("n_retrieved"),
            fround(
                F.coalesce("dcg_approx", F.lit(0.0)) / F.col("idcg"), 4
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


ORACLE["ann_ndcg_eval"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sign_bucket_adaptive_sql(
             'embedding', _sign_bits_sql('(SELECT count(*) FROM embeddings)')
         )} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE {_QUERY_PRED}),
exact AS (
  SELECT query_id, rank, sim FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {fround_sql(_cos_sql('q.qv', 'e.v'), 4)} AS sim,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) WHERE rank <= 3
),
approx AS (
  SELECT query_id, rank, sim FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {fround_sql(_cos_sql('q.qv', 'e.v'), 4)} AS sim,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e USING (bucket)
    WHERE q.query_id <> e.vec_id
  ) WHERE rank <= 3
),
a AS (
  SELECT query_id,
         sum(greatest(sim, 0.0) / log2(rank + 1)) AS dcg_approx,
         count(*) AS n
  FROM approx GROUP BY 1
),
i AS (
  SELECT query_id,
         sum(greatest(sim, 0.0) / log2(rank + 1)) AS idcg
  FROM exact GROUP BY 1
)
SELECT i.query_id,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_retrieved,
       {fround_sql("coalesce(a.dcg_approx, 0.0) / i.idcg", 4)} AS ndcg
FROM i LEFT JOIN a USING (query_id)
ORDER BY i.query_id
"""


MAXSIM_GROUP = 10  # token-vectors per pseudo-document
MAXSIM_NQ = 3  # query documents
MAXSIM_TOPK = 3


def ann_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT-style MaxSim,
    Khattab & Zaharia 2020): documents are SETS of token vectors
    (pseudo-docs of {MAXSIM_GROUP} consecutive vec_ids), and
    score(q, d) = Σ over q's token vectors of max cosine against d's
    token vectors. Candidate generation is sign-LSH bucketed — query
    tokens join corpus tokens on the bucket key (the PLAID-style
    pruned form: token pairs in different buckets contribute 0), so
    the plan is a broadcast hash join on bucket, never a token-level
    cartesian. Two-level aggregation: max per (query token, doc),
    then sum per (query doc, doc) — both partial-aggregated map-side.
    At 100 TB the corpus token index is stored partitioned by bucket
    (same layout as the IVF cid write) and the per-query cost is
    |q_tokens| bucket probes."""
    emb = load_table(spark, sf_dir, "embeddings")
    toks = emb.select(
        F.floor(F.col("vec_id") / MAXSIM_GROUP).cast("bigint").alias("doc"),
        F.col("vec_id"),
        F.col("embedding"),
        l2_norm(F.col("embedding")).alias("nrm"),
        sign_bucket(F.col("embedding")).alias("bucket"),
    )
    q = F.broadcast(
        toks.filter(F.col("doc") < MAXSIM_NQ).select(
            F.col("doc").alias("query_doc"),
            F.col("vec_id").alias("q_tok"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
            "bucket",
        )
    )
    c = toks.filter(F.col("doc") >= MAXSIM_NQ).select(
        F.col("doc").alias("doc_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
        "bucket",
    )
    sim = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    w = W.partitionBy("query_doc").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        q.join(c, "bucket")
        .select("query_doc", "q_tok", "doc_id", sim.alias("sim"))
        .groupBy("query_doc", "q_tok", "doc_id")
        .agg(F.max("sim").alias("tok_max"))
        .groupBy("query_doc", "doc_id")
        .agg(fround(F.sum("tok_max"), 4).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MAXSIM_TOPK)
        .select("query_doc", "rank", "doc_id", "score")
    )


ORACLE["ann_maxsim_multivector"] = f"""
WITH toks AS (
  SELECT vec_id // {MAXSIM_GROUP} AS doc, vec_id, embedding AS v,
         {_sign_bucket_sql("embedding")} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT q.doc AS query_doc, q.vec_id AS q_tok, c.doc AS doc_id,
         {_cos_sql("q.v", "c.v")} AS sim
  FROM toks q JOIN toks c ON q.bucket = c.bucket
  WHERE q.doc < {MAXSIM_NQ} AND c.doc >= {MAXSIM_NQ}
),
tok_max AS (
  SELECT query_doc, q_tok, doc_id, max(sim) AS tok_max
  FROM pairs GROUP BY 1, 2, 3
),
scores AS (
  SELECT query_doc, doc_id,
         {fround_sql("sum(tok_max)", 4)} AS score
  FROM tok_max GROUP BY 1, 2
)
SELECT query_doc, rank, doc_id, score FROM (
  SELECT query_doc, doc_id, score,
         row_number() OVER (PARTITION BY query_doc
                            ORDER BY score DESC, doc_id) AS rank
  FROM scores)
WHERE rank <= {MAXSIM_TOPK}
"""


PQ_M = 8  # subspaces
PQ_K = 16  # codebook entries per subspace
PQ_DIM = 64  # embedding dimensionality (subvector dim = PQ_DIM // PQ_M)


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, j, sv): each vector exploded into its PQ_M subvectors."""
    sub_d = PQ_DIM // PQ_M
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice("embedding", j * sub_d + 1, sub_d).alias("sv"),
                    )
                    for j in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.j", "s.sv")


def _pq_sqdist(a: str, b: str):
    """Floored squared L2 between two subvector columns."""
    return fround(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _pq_codebook(subs: DataFrame):
    """Broadcast (cid, cj, cv_sub) codebook: subvectors of the first
    PQ_K vectors."""
    return F.broadcast(
        subs.filter(F.col("vec_id") < PQ_K).select(
            F.col("vec_id").cast("int").alias("cid"),
            F.col("j").alias("cj"),
            F.col("sv").alias("cv_sub"),
        )
    )


def _pq_assignments(emb: DataFrame) -> DataFrame:
    """(vec_id, j, cid, d): per-subspace argmin codebook assignment
    with its squared distance — shared by the encode report and the
    ADC search."""
    subs = _pq_subvectors(emb)
    codebook = _pq_codebook(subs)
    w = W.partitionBy("vec_id", "j").orderBy(F.col("d").asc(), F.col("cid"))
    return (
        subs.join(codebook, F.col("j") == F.col("cj"))
        .select("vec_id", "j", "cid", _pq_sqdist("sv", "cv_sub").alias("d"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )


def pq_assignments_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the PQ code table (vec_id, j, cid, d) over
    the embeddings dataset — the encode report, the ADC search, and
    the IVF+PQ composite all consume the SAME deterministic codebook
    assignment; one build serves all three."""
    return session_index(
        spark, sf_dir, f"pq-assign-m{PQ_M}-k{PQ_K}",
        lambda: _pq_assignments(load_table(spark, sf_dir, "embeddings")),
    )


def ann_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011) — the compression
    behind billion-scale ANN indexes: split each vector into
    {PQ_M} subvectors, quantize each against a {PQ_K}-entry per-
    subspace codebook, store one byte per subspace. Codebooks are
    deterministic (subvectors of the first {PQ_K} vectors — same
    oracle-reproducibility trick as ``ivf_centroids``; production
    trains them with per-subspace k-means, which ``kmeans_centroids``
    already provides). Output: the 8 code bytes per vector plus the
    reconstruction MSE, which falls out of the argmin for free (the
    winning distance IS the subspace's squared reconstruction error).
    Plan: explode to (vector, subspace), broadcast-join the 128-row
    codebook on the subspace key, one window argmin, one conditional
    aggregation back to wide form — the corpus shuffles once on
    vec_id-sized keys; 100 TB-safe."""
    best = pq_assignments_index(spark, sf_dir)
    code_cols = [
        F.max(F.when(F.col("j") == j, F.col("cid"))).alias(f"c{j}")
        for j in range(PQ_M)
    ]
    return (
        best.groupBy("vec_id")
        .agg(*code_cols, fround(F.sum("d") / PQ_DIM, 6).alias("recon_mse"))
        .orderBy("vec_id")
    )


def _pq_oracle() -> str:
    sub_d = PQ_DIM // PQ_M
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, embedding[{j * sub_d + 1}:{(j + 1) * sub_d}] AS sv"
        " FROM embeddings"
        for j in range(PQ_M)
    )
    dist = (
        "list_sum(list_transform(list_zip(s.sv, c.sv), "
        "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
    )
    codes = ", ".join(
        f"CAST(max(CASE WHEN j = {j} THEN cid END) AS INT) AS c{j}"
        for j in range(PQ_M)
    )
    return f"""
WITH subs AS ({subs}),
cb AS (SELECT CAST(vec_id AS INT) AS cid, j, sv FROM subs WHERE vec_id < {PQ_K}),
scored AS (
  SELECT s.vec_id, s.j, c.cid, {fround_sql(dist, 6)} AS d,
         row_number() OVER (PARTITION BY s.vec_id, s.j
                            ORDER BY {fround_sql(dist, 6)} ASC, c.cid) AS rn
  FROM subs s JOIN cb c ON s.j = c.j
)
SELECT vec_id, {codes},
       {fround_sql(f"sum(d) / {PQ_DIM}", 6)} AS recon_mse
FROM scored WHERE rn = 1
GROUP BY vec_id ORDER BY vec_id
"""


ORACLE["ann_pq_encode"] = _pq_oracle()


PQ_NQ = 3  # ADC query vectors
PQ_TOPK = 3


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via ASYMMETRIC DISTANCE COMPUTATION (ADC): the query
    stays full-precision; each corpus vector is its 8 code bytes.
    Per query, a distance TABLE (8 subspaces × 16 centroids = 128
    floats) is computed once, then every corpus vector's approximate
    distance is just 8 table lookups summed — no vector math in the
    scan. That's why PQ serves billion-vector indexes: the scan
    touches 8 bytes/vector + a broadcast-resident table. Plan shape
    here is exactly that: the (vec_id, j, cid) code list joins the
    broadcast distance table on (j, cid), one partial-aggregated sum
    per (query, vector), one window top-k. Exact-rerank of the PQ
    shortlist (the production refinement step) is what
    ``ann_topk_bruteforce`` provides; recall audit mirrors
    ``ann_recall_eval``."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_assignments_index(spark, sf_dir).select("vec_id", "j", "cid")
    all_subs = _pq_subvectors(emb)
    q_subs = _pq_subvectors(emb.filter(F.col("vec_id") < PQ_NQ)).select(
        F.col("vec_id").alias("query_id"), F.col("j").alias("qj"), "sv"
    )
    dt = q_subs.join(
        _pq_codebook(all_subs), F.col("qj") == F.col("cj")
    ).select(
        "query_id",
        F.col("qj").alias("j"),
        "cid",
        _pq_sqdist("sv", "cv_sub").alias("dt"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), "vec_id")
    return (
        codes.join(F.broadcast(dt), ["j", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(fround(F.sum("dt"), 4).alias("approx_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("query_id", "rank", F.col("vec_id").alias("neighbor_id"), "approx_dist")
    )


def _pq_topk_oracle() -> str:
    sub_d = PQ_DIM // PQ_M
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, embedding[{j * sub_d + 1}:{(j + 1) * sub_d}] AS sv"
        " FROM embeddings"
        for j in range(PQ_M)
    )
    dist = (
        "list_sum(list_transform(list_zip(s.sv, c.sv), "
        "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
    )
    return f"""
WITH subs AS ({subs}),
cb AS (SELECT CAST(vec_id AS INT) AS cid, j, sv FROM subs WHERE vec_id < {PQ_K}),
assigned AS (
  SELECT vec_id, j, cid FROM (
    SELECT s.vec_id, s.j, c.cid,
           row_number() OVER (PARTITION BY s.vec_id, s.j
                              ORDER BY {fround_sql(dist, 6)} ASC, c.cid) AS rn
    FROM subs s JOIN cb c ON s.j = c.j
  ) WHERE rn = 1
),
dt AS (
  SELECT s.vec_id AS query_id, s.j, c.cid, {fround_sql(dist, 6)} AS dt
  FROM subs s JOIN cb c ON s.j = c.j
  WHERE s.vec_id < {PQ_NQ}
),
scores AS (
  SELECT d.query_id, a.vec_id,
         {fround_sql("sum(d.dt)", 4)} AS approx_dist
  FROM assigned a JOIN dt d ON a.j = d.j AND a.cid = d.cid
  WHERE a.vec_id <> d.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, neighbor_id, approx_dist FROM (
  SELECT query_id, vec_id AS neighbor_id, approx_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dist ASC, vec_id) AS rank
  FROM scores)
WHERE rank <= {PQ_TOPK}
"""


ORACLE["ann_topk_pq"] = _pq_topk_oracle()


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite — the production billion-scale ANN layout
    (FAISS ``IVFxPQy``): an IVF coarse quantizer prunes the corpus to
    ``NPROBE`` cells, and within the probed cells distance is PQ's
    asymmetric distance computation over the 8 code bytes — the scan
    never touches a full-precision corpus vector. Plan shape: the
    per-vector code list joins its cell id on vec_id (keyed shuffle),
    then two broadcast joins (probed cells, per-query distance table)
    restrict and score it, one partial-aggregated sum per
    (query, vector), one window top-k. At cluster scale the code
    table is written partitioned by cell, so the probe is partition
    pruning + an 8-byte-per-vector scan — exactly the published
    design (Jégou et al. 2011, §IV)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_assign_index(spark, sf_dir).select(
        "vec_id", F.col("cid").alias("cell")
    )
    codes = pq_assignments_index(spark, sf_dir).select("vec_id", "j", "cid")

    qs = emb.filter(F.expr(_QUERY_PRED))
    cents_n = ivf_centroids(emb, "vec_id", "embedding").withColumn(
        "_cn", l2_norm("cv")
    )
    qsim = fround(cosine_from_norms("qv", "cv", "qn", "_cn"), 6)
    wq = W.partitionBy("query_id").orderBy(F.col("_csim").desc(), F.col("cid"))
    probe = (
        qs.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            l2_norm(F.col("embedding")).alias("qn"),
        )
        .crossJoin(F.broadcast(cents_n))
        .withColumn("_csim", qsim)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= NPROBE)
        .select("query_id", F.col("cid").alias("cell"))
    )
    q_subs = _pq_subvectors(qs).select(
        F.col("vec_id").alias("query_id"), F.col("j").alias("qj"), "sv"
    )
    dt = q_subs.join(
        _pq_codebook(_pq_subvectors(emb)), F.col("qj") == F.col("cj")
    ).select(
        "query_id",
        F.col("qj").alias("j"),
        "cid",
        _pq_sqdist("sv", "cv_sub").alias("dt"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("approx_dist").asc(), "vec_id")
    return (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probe), "cell")
        .join(F.broadcast(dt), ["query_id", "j", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(fround(F.sum("dt"), 4).alias("approx_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select(
            "query_id", "rank", F.col("vec_id").alias("neighbor_id"), "approx_dist"
        )
    )


def _ivfpq_oracle() -> str:
    sub_d = PQ_DIM // PQ_M
    subs = " UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, embedding[{j * sub_d + 1}:{(j + 1) * sub_d}] AS sv"
        " FROM embeddings"
        for j in range(PQ_M)
    )
    dist = (
        "list_sum(list_transform(list_zip(s.sv, c.sv), "
        "p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE)))"
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < {IVF_K}),
cells AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT e.vec_id, cents.ccid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'cents.cv')} DESC,
                                       cents.ccid) AS rn
    FROM e CROSS JOIN cents
  ) t WHERE rn = 1
),
probe AS (
  SELECT query_id, ccid AS cell FROM (
    SELECT q.vec_id AS query_id, cents.ccid,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {_cos_sql('q.v', 'cents.cv')} DESC,
                                       cents.ccid) AS rn
    FROM e q CROSS JOIN cents WHERE {_QUERY_PRED.replace('vec_id', 'q.vec_id')}
  ) t WHERE rn <= {NPROBE}
),
subs AS ({subs}),
cb AS (SELECT CAST(vec_id AS INT) AS cid, j, sv FROM subs WHERE vec_id < {PQ_K}),
codes AS (
  SELECT vec_id, j, cid FROM (
    SELECT s.vec_id, s.j, c.cid,
           row_number() OVER (PARTITION BY s.vec_id, s.j
                              ORDER BY {fround_sql(dist, 6)} ASC, c.cid) AS rn
    FROM subs s JOIN cb c ON s.j = c.j
  ) WHERE rn = 1
),
dt AS (
  SELECT s.vec_id AS query_id, s.j, c.cid, {fround_sql(dist, 6)} AS dt
  FROM subs s JOIN cb c ON s.j = c.j
  WHERE {_QUERY_PRED.replace('vec_id', 's.vec_id')}
),
scores AS (
  SELECT d.query_id, co.vec_id, {fround_sql("sum(d.dt)", 4)} AS approx_dist
  FROM codes co
  JOIN cells ce ON co.vec_id = ce.vec_id
  JOIN probe p ON ce.cell = p.cell
  JOIN dt d ON co.j = d.j AND co.cid = d.cid AND d.query_id = p.query_id
  WHERE co.vec_id <> d.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, neighbor_id, approx_dist FROM (
  SELECT query_id, vec_id AS neighbor_id, approx_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_dist ASC, vec_id) AS rank
  FROM scores)
WHERE rank <= {PQ_TOPK}
"""


ORACLE["ann_topk_ivfpq"] = _ivfpq_oracle()


_MAHA_TOPN = 20


def embedding_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-level embedding outliers by DIAGONAL Mahalanobis
    distance: per-dimension mean/variance from one posexplode
    aggregation (map-side partials on d keys — the shuffle is
    d × partitions rows, corpus-size-independent), broadcast back,
    each vector scored Σ_i (x_i−μ_i)²/σ_i² over its dims, top-{n}
    reported with their labels. The screen that catches corrupted /
    zeroed / off-manifold vectors BEFORE they poison ANN indexes and
    k-means — full-covariance Mahalanobis needs the inverse of
    ``embedding_covariance``'s matrix (a driver-side d×d solve in
    production); the diagonal form needs no linear algebra and
    catches axis-aligned corruption, which is what real ingest bugs
    produce. Variance floored at 1e-12 against constant dims. Score
    fround-snapped BEFORE the top-n rank so ordering is
    engine-stable; ties break on vec_id."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    )
    stats = ex.groupBy("pos").agg(
        F.avg("x").alias("mu"),
        F.greatest(F.var_pop("x"), F.lit(1e-12)).alias("var"),
    )
    scored = (
        ex.join(F.broadcast(stats), "pos")
        .groupBy("vec_id", "label")
        .agg(
            fround(
                F.sum((F.col("x") - F.col("mu")) ** 2 / F.col("var")), 4
            ).alias("maha2")
        )
    )
    return scored.orderBy(F.col("maha2").desc(), "vec_id").limit(_MAHA_TOPN)


embedding_outlier_mahalanobis.__doc__ = (
    embedding_outlier_mahalanobis.__doc__.format(n=_MAHA_TOPN)
)


ORACLE["embedding_outlier_mahalanobis"] = f"""
WITH ex AS (
  SELECT vec_id, label,
         unnest(generate_series(0, len(embedding) - 1)) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
stats AS (
  SELECT pos, avg(x) AS mu, greatest(var_pop(x), 1e-12) AS var
  FROM ex GROUP BY 1
)
SELECT vec_id, label,
       {fround_sql("sum((x - mu) * (x - mu) / var)", 4)} AS maha2
FROM ex JOIN stats USING (pos)
GROUP BY vec_id, label
ORDER BY maha2 DESC, vec_id
LIMIT {_MAHA_TOPN}
"""


_NPROBE_SWEEP = (1, 2, 4, 8)


def ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF accuracy-vs-cost dial, measured: recall@3 against exact
    brute-force truth at nprobe ∈ {sweep} (nprobe = IVF_K = exhaustive
    probing anchors the curve at its ceiling). This is the ONE number
    a 100 TB deployment tunes — each +1 nprobe adds ~1/|cells| of the
    corpus to every query's candidate set — and committing the curve
    as an oracle-checked artifact is what makes the approximate path
    auditable rather than vibes-based (same discipline as
    ``ann_recall_eval`` / ``dedup_lsh_eval``). The exact truth is
    computed once and joined against each probe depth; per-query
    recalls average into one row per nprobe.

    SCORE-ONCE architecture: because the sweep's deepest setting
    probes every cell, scoring candidates once at full depth WITH the
    cell's probe rank attached contains every shallower sweep point —
    nprobe=N's candidate set is just ``cell_rank <= N`` — and the
    exact truth too (all cells = the whole corpus). One scoring pass
    + five cheap windows over the (query × corpus)-scored frame,
    instead of four independent IVF probes plus a brute pass
    (in-session A/B at sf0.1: 4.8-6.8 s → 2.4 s, identical output).
    The scored frame is lazily localCheckpointed so the four branches
    share one materialization."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    cents = ivf_centroids(emb, "vec_id", "embedding")
    asg = ivf_assign_index(spark, sf_dir)
    cents_n = cents.withColumn("_cn", l2_norm("cv"))
    q = qs.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    wq = W.partitionBy("query_id").orderBy(F.col("_csim").desc(), F.col("cid"))
    probe = (
        q.crossJoin(F.broadcast(cents_n))
        .withColumn(
            "_csim", fround(cosine_from_norms("qv", "cv", "qn", "_cn"), 6)
        )
        .withColumn("cell_rank", F.row_number().over(wq))
        .select("query_id", "qv", "qn", "cid", "cell_rank")
    )
    cand = asg.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv2"),
        l2_norm(F.col("embedding")).alias("cn2"),
        "cid",
    )
    scored = (
        F.broadcast(probe)
        .join(cand, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "cell_rank",
            fround(cosine_from_norms("qv", "cv2", "qn", "cn2"), 6).alias("sim"),
        )
        .localCheckpoint(eager=False)
    )
    wr = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    exact = (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    out = None
    for np_ in _NPROBE_SWEEP:
        approx = (
            scored.filter(F.col("cell_rank") <= np_)
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= 3)
            .select("query_id", "neighbor_id")
        )
        hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
            "query_id"
        ).agg(F.count(F.lit(1)).alias("n_hits"))
        per_q = base.join(hits, "query_id", "left").select(
            (F.coalesce("n_hits", F.lit(0)) / F.col("k")).alias("recall")
        )
        row = per_q.agg(
            F.lit(np_).cast("int").alias("nprobe"),
            F.count(F.lit(1)).alias("n_queries"),
            fround(F.avg("recall"), 4).alias("mean_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


ann_nprobe_curve.__doc__ = ann_nprobe_curve.__doc__.format(sweep=_NPROBE_SWEEP)


def _nprobe_curve_oracle() -> str:
    probes = []
    for np_ in _NPROBE_SWEEP:
        probes.append(f"""
hits_{np_} AS (
  SELECT x.query_id, count(*) AS n_hits
  FROM exact3 x
  JOIN (
    SELECT query_id, neighbor_id FROM (
      SELECT s.query_id, s.neighbor_id,
             row_number() OVER (PARTITION BY s.query_id
                                ORDER BY s.sim DESC, s.neighbor_id) AS rank
      FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_cos_sql('p.qv', 'a.v')} AS sim
        FROM (
          SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.query_id
                                      ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC,
                                               c.cid) AS rn
            FROM q CROSS JOIN c
          ) t WHERE rn <= {np_}
        ) p JOIN asg a USING (cid)
        WHERE p.query_id <> a.vec_id
      ) s
    ) r WHERE rank <= 3
  ) ap ON ap.query_id = x.query_id AND ap.neighbor_id = x.neighbor_id
  GROUP BY 1
),
row_{np_} AS (
  SELECT {np_} AS nprobe, count(*) AS n_queries,
         {fround_sql("avg(coalesce(n_hits, 0) / CAST(k AS DOUBLE))", 4)}
           AS mean_recall
  FROM (SELECT query_id, count(*) AS k FROM exact3 GROUP BY 1) b
  LEFT JOIN hits_{np_} USING (query_id)
)""")
        # noqa: E501
    union = "\nUNION ALL\n".join(f"SELECT * FROM row_{np_}" for np_ in _NPROBE_SWEEP)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_K}),
asg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e CROSS JOIN c
  ) t WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {_QUERY_PRED}),
exact3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_cos_sql('q.qv', 'e.v')} DESC,
                                       e.vec_id) AS rank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) t WHERE rank <= 3
),
{",".join(probes)}
{union}
ORDER BY nprobe
"""


ORACLE["ann_nprobe_curve"] = _nprobe_curve_oracle()


HAMMING_CAND = 16  # binary-code candidates reranked by true cosine
HAMMING_K = 3


def _sign_code(vec, lo: int, n: int):
    """Pack the sign bits of components [lo, lo+n) into one BIGINT
    (bit b set iff component lo+b ≥ 0). n ≤ 63 keeps the sum inside
    signed-64 range; 64-dim vectors use two 32-bit halves so both
    engines stay in plain BIGINT arithmetic."""
    return sum(
        F.when(F.element_at(vec, lo + b + 1) >= 0, F.lit(1 << b)).otherwise(0)
        for b in range(n)
    ).cast("bigint")


def _sign_code_sql(vec_expr: str, lo: int, n: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {vec_expr}[{lo + b + 1}] >= 0 THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(n)
    )
    return f"CAST({terms} AS BIGINT)"


def ann_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED ANN (1 bit/dim): each 64-dim float vector
    compresses 256× into two 32-bit sign words; candidate generation
    ranks the corpus by Hamming distance — ``bit_count(code_q XOR
    code_c)``, one CPU instruction per word, the kernel binary-
    quantized indexes (sign-random-projection LSH literature) serve
    memory-resident — then the top-{cand} candidates per query are
    reranked by TRUE cosine on the float vectors, which touches only
    |queries|·{cand} full vectors. At 100 TB the code table is the
    only full-scan artifact (16 bytes/vector — RAM-resident where the
    float corpus never could be) and the rerank is a sliver. Output:
    top-{k} per query with both distances, so ranking drift vs
    ``ann_topk_bruteforce`` is directly readable. Exactly
    reproducible in SQL (integer bit ops end-to-end), so the oracle
    value-checks the whole quantize→scan→rerank cascade."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # the code table: ids + 16 bytes/vector, NO float payload — the
    # Hamming scan and its candidate-rank shuffle move only this (at
    # sf0.1 that's a 50× lighter exchange than dragging the vectors
    # through the window; measured 5.2 s → ~1 s)
    # lazy checkpoint: the 64-branch packing expression is costly to
    # CODEGEN (not to run); truncating here keeps it out of the join /
    # window stages so janino compiles it once, and the materialized
    # code table is ids + 16 bytes/row
    coded = emb.select(
        "vec_id",
        _sign_code(F.col("embedding"), 0, 32).alias("c_lo"),
        _sign_code(F.col("embedding"), 32, 32).alias("c_hi"),
    ).localCheckpoint(eager=False)
    q = F.broadcast(
        coded.filter(F.expr(_QUERY_PRED)).select(
            F.col("vec_id").alias("query_id"),
            F.col("c_lo").alias("q_lo"),
            F.col("c_hi").alias("q_hi"),
        )
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    ).cast("int")
    cand_w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    cands = (
        q.join(coded, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            ham.alias("hamming"),
        )
        .withColumn("crank", F.row_number().over(cand_w))
        .filter(F.col("crank") <= HAMMING_CAND)
    )
    # float vectors join back for ONLY the |queries|·CAND rerank rows
    vecs = emb.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    qv = F.broadcast(
        vecs.filter(F.expr(_QUERY_PRED)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    cv = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    rerank_w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        cands.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", "hamming", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= HAMMING_K)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "hamming",
            fround(F.col("sim"), 4).alias("sim"),
        )
        .orderBy("query_id", "rank")
    )


ann_topk_hamming.__doc__ = ann_topk_hamming.__doc__.format(
    cand=HAMMING_CAND, k=HAMMING_K
)


ORACLE["ann_topk_hamming"] = f"""
WITH coded AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sign_code_sql('embedding', 0, 32)} AS c_lo,
         {_sign_code_sql('embedding', 32, 32)} AS c_hi
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv, c_lo AS q_lo, c_hi AS q_hi
  FROM coded WHERE {_QUERY_PRED}
),
cands AS (
  SELECT query_id, qv, neighbor_id, cv, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS crank
  FROM (
    SELECT q.query_id, q.qv, c.vec_id AS neighbor_id, c.v AS cv,
           CAST(bit_count(xor(q.q_lo, c.c_lo))
                + bit_count(xor(q.q_hi, c.c_hi)) AS INT) AS hamming
    FROM q JOIN coded c ON q.query_id <> c.vec_id
  ) t
),
reranked AS (
  SELECT query_id, neighbor_id, hamming,
         floor(round(list_cosine_similarity(qv, cv), 10) * 1000000) / 1000000
           AS sim
  FROM cands WHERE crank <= {HAMMING_CAND}
),
final AS (
  SELECT query_id, neighbor_id, hamming, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM reranked
)
SELECT query_id, rank, neighbor_id, hamming,
       floor(round(sim, 8) * 10000) / 10000 AS sim
FROM final WHERE rank <= {HAMMING_K}
ORDER BY query_id, rank
"""


SEMANTIC_TAU = 0.40  # within-cluster cosine above which a doc is a semantic dup


def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC deduplication, SemDeDup-style (cluster-then-dedup over
    embeddings, after Abbas et al. 2023): assign every vector to its
    nearest coarse centroid, then inside each cluster greedily drop
    any vector whose cosine to a LOWER-ID clustermate reaches τ={tau}
    — semantically redundant documents that exact/MinHash dedup can't
    see (different words, same content). Clustering IS the blocking:
    pair cost is Σ_c |c|², never N², and at production scale k grows
    ∝ N (α·√N cells) to hold cluster sizes constant — the same
    bounded-block shape as the banded-LSH family; the embedding-LSH
    slug (`dedup_embedding_lsh`) is the alternative blocking for the
    same problem. Greedy-by-id keeps exactly one representative per
    near-dup chain without an iterative components pass, the
    trade SemDeDup makes too. Per-cluster report: corpus size,
    drops, survivors."""
    import numpy as np
    import pandas as pd

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(emb, "vec_id", "embedding")
    asg = ivf_assign_index(spark, sf_dir)

    # per-cluster GEMM kernel (applyInPandas grouped on cid): one BLAS
    # call per cell instead of |cell|² interpreted zip_with/aggregate
    # cosines — measured ~3× on the whole slug at sf0.1, and the
    # kernel's working set is bounded by the CELL size by
    # construction (the same bound the clustering exists to enforce).
    # Cosine is truncated floor(round(x,10)·1e6)/1e6 exactly like the
    # expression path / oracle; ulp-level sum-order divergence vs the
    # oracle's sequential loop sits ~10 orders below the floor grid
    # (same contract as the `embedding_near_dup_pairs` GEMM).
    def _cluster_drops(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.stack(pdf["embedding"].to_numpy())[order].astype("float64")
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        m = m / nrm
        s = np.floor(np.round(m @ m.T, 10) * 1e6) / 1e6
        iu, ju = np.triu_indices(len(ids), 1)  # sorted ids → ida < idb
        hit = s[iu, ju] >= SEMANTIC_TAU
        dropped = ids[np.unique(ju[hit])]
        return pd.DataFrame(
            {
                "cid": np.full(len(dropped), pdf["cid"].iloc[0], dtype="int64"),
                "idb": dropped.astype("int64"),
            }
        )

    dropped = asg.groupBy("cid").applyInPandas(
        _cluster_drops, schema="cid bigint, idb bigint"
    )
    return (
        asg.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(
            dropped.groupBy("cid").agg(F.count(F.lit(1)).alias("nd")),
            "cid",
            "left",
        )
        .select(
            "cid",
            "n_vecs",
            F.coalesce("nd", F.lit(0)).cast("bigint").alias("n_dropped"),
            (F.col("n_vecs") - F.coalesce("nd", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
        )
        .orderBy("cid")
    )


dedup_semantic_cluster.__doc__ = dedup_semantic_cluster.__doc__.format(
    tau=SEMANTIC_TAU
)


ORACLE["dedup_semantic_cluster"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_K}),
asg AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid)
             AS rn
    FROM e CROSS JOIN c
  ) t WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT a.cid, b.vec_id AS idb
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.v', 'b.v')} >= {SEMANTIC_TAU}
),
drops AS (SELECT cid, count(*) AS nd FROM dropped GROUP BY cid)
SELECT g.cid, g.n_vecs,
       CAST(coalesce(d.nd, 0) AS BIGINT) AS n_dropped,
       CAST(g.n_vecs - coalesce(d.nd, 0) AS BIGINT) AS n_kept
FROM (SELECT cid, count(*) AS n_vecs FROM asg GROUP BY cid) g
LEFT JOIN drops d USING (cid)
ORDER BY g.cid
"""


TRUNC_DIMS = 16  # Matryoshka prefix length evaluated against full-width truth


def ann_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: recall@3 of a search that uses
    only the FIRST {d} of 64 dimensions against full-width brute-force
    truth — the decision metric for MRL-style embeddings, where a
    prefix slice is served as a 4× cheaper first-stage index (the
    storage/recall trade measured per query, the same
    audit-before-trusting shape as ``ann_recall_eval`` and
    ``ann_nprobe_curve``). Truncation is ``slice()`` — zero new
    operators, the cost drop is pure arithmetic width. Low recall
    here means these embeddings were NOT trained matryoshka-style and
    the prefix is unsafe to serve — which is exactly what the audit
    exists to catch."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    exact = topk_bruteforce(qs, emb, "vec_id", "embedding", k=3).select(
        "query_id", "neighbor_id"
    )
    tr = emb.select(
        "vec_id", F.slice("embedding", 1, TRUNC_DIMS).alias("tvec")
    )
    tq = tr.filter(F.expr(_QUERY_PRED))
    approx = topk_bruteforce(tq, tr, "vec_id", "tvec", k=3).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            fround(F.coalesce("n_hits", F.lit(0)) / F.col("k"), 4).alias("recall"),
        )
        .orderBy("query_id")
    )


ann_truncate_recall.__doc__ = ann_truncate_recall.__doc__.format(d=TRUNC_DIMS)


ORACLE["ann_truncate_recall"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         (embedding::DOUBLE[])[1:{TRUNC_DIMS}] AS tv
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, tv AS qt FROM e WHERE {_QUERY_PRED}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) WHERE rank <= 3
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qt', 'e.tv')} DESC, e.vec_id) AS rank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) WHERE rank <= 3
),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM exact e JOIN approx a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY 1
)
SELECT b.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       {fround_sql('coalesce(h.n_hits, 0) / CAST(b.k AS DOUBLE)', 4)} AS recall
FROM (SELECT query_id, count(*) AS k FROM exact GROUP BY 1) b
LEFT JOIN hits h USING (query_id)
ORDER BY b.query_id
"""


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: for each query
    vector, the top-3 most-similar vectors with a DIFFERENT label —
    near the anchor in embedding space yet semantically distinct, the
    examples that actually move a retriever/encoder during training
    (random negatives are too easy; same-label neighbors are false
    negatives). One label-inequality predicate on top of the
    broadcast-query brute scan; at corpus scale the same mining runs
    over the ANN candidates instead of the full scan (swap
    ``topk_bruteforce`` for the bucketed/IVF path — the predicate
    composes unchanged)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        emb.filter(F.expr(_QUERY_PRED)).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qv"),
            l2_norm(F.col("embedding")).alias("qn"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    sim = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        q.join(c, F.col("qlabel") != F.col("nlabel"))
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            F.col("nlabel").alias("neg_label"),
            sim.alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "qlabel",
            "rank",
            "neighbor_id",
            "neg_label",
            fround(F.col("sim"), 4).alias("sim"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE["embedding_hard_negatives"] = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS qv
  FROM e WHERE {_QUERY_PRED}
),
scored AS (
  SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
         e.label AS neg_label,
         {_cos_sql('q.qv', 'e.v')} AS sim
  FROM q JOIN e ON q.qlabel <> e.label
),
ranked AS (
  SELECT query_id, qlabel, neighbor_id, neg_label, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, qlabel, rank, neighbor_id, neg_label,
       floor(round(sim, 8) * 10000) / 10000 AS sim
FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""


def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-version DRIFT check: per-label centroids computed on
    two disjoint halves of the corpus (even vs odd vec_id — a proxy
    for "last week's batch vs this week's"), compared by cosine and
    L2 gap. A re-trained or silently-changed encoder moves the
    centroids; this is the cheap canary a 100 TB embedding pipeline
    runs before mixing vector versions in one index (mixed versions
    silently wreck ANN recall). Two partial-aggregatable per-label
    mean passes + a |labels|-sized join — nothing corpus-sized ever
    shuffles."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))

    def centroids(pred):
        return (
            emb.filter(pred)
            .select("label", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("label", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c")
            )
        )
    a = centroids(F.col("vec_id") % 2 == 0).select(
        "label", F.col("c").alias("ca")
    )
    b = centroids(F.col("vec_id") % 2 == 1).select(
        "label", F.col("c").alias("cb")
    )
    dot = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    l2g = F.sqrt(
        F.aggregate(
            F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        a.join(b, "label")
        .select(
            "label",
            fround(dot / (l2_norm(F.col("ca")) * l2_norm(F.col("cb"))), 6).alias(
                "centroid_cosine"
            ),
            fround(l2g, 6).alias("l2_gap"),
        )
        .orderBy("label")
    )


ORACLE["embedding_centroid_drift"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
expl AS (
  SELECT vec_id % 2 AS half, label, u.pos, u.x
  FROM e, LATERAL (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos
  ) u
),
cent AS (
  SELECT half, label, pos, avg(x) AS m
  FROM expl GROUP BY 1, 2, 3
),
vecs AS (
  SELECT half, label, list(m ORDER BY pos) AS c
  FROM cent GROUP BY 1, 2
),
pairs AS (
  SELECT a.label, a.c AS ca, b.c AS cb
  FROM vecs a JOIN vecs b ON a.label = b.label
  WHERE a.half = 0 AND b.half = 1
)
SELECT label,
       floor(round(
         list_sum(list_transform(range(1, 1 + len(ca)),
                                 i -> ca[i] * cb[i]))
         / (sqrt(list_sum(list_transform(ca, x -> x * x)))
            * sqrt(list_sum(list_transform(cb, x -> x * x)))), 10) * 1000000)
         / 1000000 AS centroid_cosine,
       floor(round(
         sqrt(list_sum(list_transform(range(1, 1 + len(ca)),
                                      i -> (ca[i] - cb[i]) * (ca[i] - cb[i])))),
         10) * 1000000) / 1000000 AS l2_gap
FROM pairs
ORDER BY label
"""


def embedding_label_compactness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space QUALITY readout per label: cohesion (mean
    cosine of members to their own label centroid) vs separation
    (cosine of that centroid to its NEAREST other centroid) — the
    silhouette-style margin that tells you whether labels are
    separable in this embedding space before you train a classifier
    or trust label-based hard-negative mining on it. Centroids are
    one partial-aggregatable per-(label, dim) mean; cohesion is one
    join of members to their (broadcast) centroid; separation is a
    |labels|² centroid cross — all tiny next to the corpus scan."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
        # three consumers (cohesion join + both sides of the
        # separation cross) — truncate so the per-(label, dim) mean
        # pass over the corpus runs once, not three times
        .localCheckpoint(eager=False)
    )
    withc = emb.join(
        F.broadcast(cents.select(F.col("label"), F.col("c"))), "label"
    )
    coh = (
        withc.select(
            "label", fround(cosine_similarity(F.col("embedding"), F.col("c")), 6).alias("cs")
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            fround(F.avg("cs"), 4).alias("cohesion"),
        )
    )
    a = cents.select(F.col("label"), F.col("c").alias("ca"))
    b = cents.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    sep_w = W.partitionBy("label").orderBy(F.col("sep").desc(), "label_b")
    sep = (
        a.join(b, F.col("label") != F.col("label_b"))
        .select(
            "label",
            "label_b",
            fround(cosine_similarity(F.col("ca"), F.col("cb")), 6).alias("sep"),
        )
        .withColumn("rn", F.row_number().over(sep_w))
        .filter(F.col("rn") == 1)
        .select(
            "label",
            F.col("label_b").alias("nearest_label"),
            fround(F.col("sep"), 4).alias("nearest_centroid_cos"),
        )
    )
    return coh.join(sep, "label").orderBy("label")


ORACLE["embedding_label_compactness"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
expl AS (
  SELECT label, u.pos, u.x
  FROM e, LATERAL (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS pos
  ) u
),
cent AS (
  SELECT label, list(m ORDER BY pos) AS c
  FROM (SELECT label, pos, avg(x) AS m FROM expl GROUP BY 1, 2)
  GROUP BY label
),
coh AS (
  SELECT e.label, count(*) AS n_vecs,
         floor(round(avg(
           floor(round(list_cosine_similarity(e.v, c.c), 10) * 1000000)
             / 1000000), 8) * 10000) / 10000 AS cohesion
  FROM e JOIN cent c USING (label)
  GROUP BY 1
),
sep AS (
  SELECT label, nearest_label, nearest_centroid_cos FROM (
    SELECT a.label, b.label AS nearest_label,
           floor(round(
             floor(round(list_cosine_similarity(a.c, b.c), 10) * 1000000)
               / 1000000, 8) * 10000) / 10000 AS nearest_centroid_cos,
           row_number() OVER (
             PARTITION BY a.label
             ORDER BY floor(round(list_cosine_similarity(a.c, b.c), 10)
                            * 1000000) / 1000000 DESC,
                      b.label) AS rn
    FROM cent a JOIN cent b ON a.label != b.label
  ) t WHERE rn = 1
)
SELECT label, n_vecs, cohesion, nearest_label, nearest_centroid_cos
FROM coh JOIN sep USING (label)
ORDER BY label
"""


POSTFILTER_K = 10  # unfiltered candidates fetched before the metadata filter


def ann_filtered_vs_postfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search audit: pre-filtering (restrict the
    corpus to the metadata predicate, THEN rank — exact but needs a
    filter-aware index) versus post-filtering (fetch an unfiltered
    top-{k}, then discard non-matching — what a naive ANN service
    does, silently returning fewer or worse neighbors when the
    predicate is selective). Per query (predicate: same label as the
    query): the post-filter YIELD (matching rows inside the
    unfiltered top-{k}) and the RECALL@3 of the post-filtered list
    against pre-filter truth — the numbers that decide whether a
    vector store needs filtered-index support or can get away with
    over-fetching. Both sides reuse the broadcast-query brute scan;
    at corpus scale the same audit runs over the IVF/bucketed
    candidates unchanged."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    labels = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    ).filter(F.expr(_QUERY_PRED.replace("vec_id", "vec_id")))
    qs = emb.filter(F.expr(_QUERY_PRED))
    # unfiltered global top-k, then mark predicate matches
    topk = topk_bruteforce(qs, emb, "vec_id", "embedding", k=POSTFILTER_K)
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    post = (
        topk.join(F.broadcast(labels), "query_id")
        .join(nlab, "neighbor_id")
        .withColumn("match", (F.col("nlabel") == F.col("qlabel")).cast("int"))
    )
    post_w = W.partitionBy("query_id").orderBy("rank")
    post3 = (
        post.filter(F.col("match") == 1)
        .withColumn("prank", F.row_number().over(post_w))
        .filter(F.col("prank") <= 3)
        .select("query_id", "neighbor_id")
    )
    yield_ = post.groupBy("query_id").agg(
        F.sum("match").cast("bigint").alias("post_yield")
    )
    # pre-filter truth: rank only same-label corpus rows
    pre = (
        qs.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qv"),
            l2_norm(F.col("embedding")).alias("qn"),
        )
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
                F.col("embedding").alias("cv"),
                l2_norm(F.col("embedding")).alias("cn"),
            ),
            (F.col("qlabel") == F.col("nlabel"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn(
            "sim", fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
        )
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), "neighbor_id"
                )
            ),
        )
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    hits = pre.join(post3, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    base = pre.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(yield_, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("post_yield", F.lit(0)).alias("post_yield"),
            fround(
                F.coalesce("n_hits", F.lit(0)) / F.col("k").cast("double"), 4
            ).alias("postfilter_recall"),
        )
        .orderBy("query_id")
    )


ORACLE["ann_filtered_vs_postfilter"] = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS qv
  FROM e WHERE {_QUERY_PRED}
),
topk AS (
  SELECT query_id, qlabel, neighbor_id, nlabel, rank FROM (
    SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
           e.label AS nlabel,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) t WHERE rank <= {POSTFILTER_K}
),
post3 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY rank) AS prank
    FROM topk WHERE nlabel = qlabel
  ) t WHERE prank <= 3
),
yield_ AS (
  SELECT query_id,
         CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
           AS post_yield
  FROM topk GROUP BY 1
),
pre AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id) AS rank
    FROM q JOIN e ON q.qlabel = e.label AND q.query_id <> e.vec_id
  ) t WHERE rank <= 3
),
hits AS (
  SELECT p.query_id, count(*) AS n_hits
  FROM pre p JOIN post3 s
    ON s.query_id = p.query_id AND s.neighbor_id = p.neighbor_id
  GROUP BY 1
)
SELECT b.query_id,
       coalesce(y.post_yield, 0) AS post_yield,
       {fround_sql('coalesce(h.n_hits, 0) / CAST(b.k AS DOUBLE)', 4)}
         AS postfilter_recall
FROM (SELECT query_id, count(*) AS k FROM pre GROUP BY 1) b
LEFT JOIN yield_ y USING (query_id)
LEFT JOIN hits h USING (query_id)
ORDER BY b.query_id
"""


def embedding_isotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space — the health check for
    representation collapse (Ethayarajh 2019: contextual embeddings
    are shockingly anisotropic). Reports, over UNIT-normalized
    vectors: the mean pairwise cosine and the norm of the mean
    vector. The trick that makes this affordable at any scale: with
    v̂·v̂ = 1, the exact mean pairwise cosine is
    (‖Σv̂‖² − n) / (n(n−1)) — a CLOSED FORM over the per-dimension
    component sums, so the all-pairs quantity costs one d-cell
    aggregation, never n² pairs. Plan: one norm pass fused into the
    posexplode (JVM arithmetic only), one shuffle on dim (d cells),
    one scalar combine. Raw-norm mean/stddev ride along from the same
    scan."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    withn = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ).alias("nrm"),
    )
    norm_stats = withn.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("nrm").alias("mean_norm"),
        F.stddev_samp("nrm").alias("sd_norm"),
    )
    dimsums = (
        withn.select(
            "nrm", F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy("dim")
        .agg(F.sum(F.col("v").cast("double") / F.col("nrm")).alias("s"))
        .agg(F.sum(F.col("s") * F.col("s")).alias("sum_sq"))
    )
    return (
        norm_stats.crossJoin(F.broadcast(dimsums))
        .select(
            "n_vecs",
            fround("mean_norm", 6).alias("mean_norm"),
            fround("sd_norm", 6).alias("sd_norm"),
            fround(
                (F.col("sum_sq") - F.col("n_vecs"))
                / (F.col("n_vecs") * (F.col("n_vecs") - F.lit(1.0))),
                6,
            ).alias("mean_pairwise_cosine"),
            fround(F.sqrt("sum_sq") / F.col("n_vecs"), 6).alias(
                "anisotropy_norm"
            ),
        )
    )


ORACLE["embedding_isotropy_audit"] = f"""
WITH withn AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
  FROM embeddings
),
norm_stats AS (
  SELECT count(*) AS n_vecs, avg(nrm) AS mean_norm,
         stddev_samp(nrm) AS sd_norm
  FROM withn
),
comps AS (
  SELECT generate_subscripts(e, 1) AS dim, unnest(e) / nrm AS v
  FROM withn
),
dimsums AS (
  SELECT sum(s * s) AS sum_sq
  FROM (SELECT dim, sum(v) AS s FROM comps GROUP BY dim)
)
SELECT n_vecs,
       {fround_sql("mean_norm", 6)} AS mean_norm,
       {fround_sql("sd_norm", 6)} AS sd_norm,
       {fround_sql("(sum_sq - n_vecs) / (n_vecs * (n_vecs - 1.0))", 6)} AS mean_pairwise_cosine,
       {fround_sql("sqrt(sum_sq) / n_vecs", 6)} AS anisotropy_norm
FROM norm_stats CROSS JOIN dimsums
"""


RANGE_TAU = 0.30  # cosine threshold (the corpus is near-isotropic: max pair ~0.45)


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE query — the other fundamental vector-search shape next to
    top-k: return ALL neighbors with cosine ≥ τ={tau} (radius search:
    "everything semantically this close", used for near-dup sweeps
    and recall-complete retrieval where k is unknowable a priori).
    Same sublinear access pattern as ``ann_topk_bucketed``: the
    occupancy-adaptive sign-LSH bucket is the join key, so each query
    scores only its bucket's candidates and the exact cosine filter
    runs on that sliver — never query×corpus. No window at all (top-k
    needs a rank; range search is a pure filter — cheaper by
    construction). Per-query yield variance is the τ-tuning signal;
    read with ``ann_recall_eval`` for the bucket-miss rate."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    n = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    q = F.broadcast(
        qs.crossJoin(F.broadcast(n)).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            l2_norm(F.col("embedding")).alias("qn"),
            sign_bucket_adaptive(
                F.col("embedding"), sign_bits_for(F.col("n_corpus"))
            ).alias("bucket"),
        )
    )
    c = emb.crossJoin(F.broadcast(n)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
        sign_bucket_adaptive(
            F.col("embedding"), sign_bits_for(F.col("n_corpus"))
        ).alias("bucket"),
    )
    sim = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    return (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .filter(F.col("sim") >= RANGE_TAU)
        .select("query_id", "neighbor_id", fround(F.col("sim"), 4).alias("sim"))
        .orderBy("query_id", "neighbor_id")
    )


ann_range_search.__doc__ = ann_range_search.__doc__.format(tau=RANGE_TAU)


ORACLE["ann_range_search"] = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {{bucket_sql}} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE {_QUERY_PRED}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         floor(round(list_cosine_similarity(q.qv, e.v), 10) * 1000000) / 1000000 AS sim
  FROM q JOIN e USING (bucket)
  WHERE q.query_id <> e.vec_id
)
SELECT query_id, neighbor_id, floor(round(sim, 8) * 10000) / 10000 AS sim
FROM scored WHERE sim >= {RANGE_TAU}
ORDER BY query_id, neighbor_id
""".format(
    bucket_sql=_sign_bucket_adaptive_sql(
        "embedding", _sign_bits_sql("(SELECT count(*) FROM embeddings)")
    )
)


MMR_LAMBDA = 0.7  # relevance weight; 1-λ is the diversity penalty
MMR_POOL = 8  # candidate pool per query (top-P by cosine)
MMR_K = 3  # selections (unrolled rounds)


def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity pass every RAG retriever runs after ANN:
    greedily pick argmax_c λ·rel(q,c) − (1−λ)·max over selected s of
    sim(c,s), so
    the 2nd and 3rd results stop being near-copies of the 1st. The
    greedy loop is inherently sequential but K={k} is tiny and FIXED,
    so it unrolls into {k} declarative rounds (the ``bpe_train_merges``
    pattern): each round is one window argmax per query over the
    ≤{p}-candidate pool — every data-sized step is the initial top-P
    retrieval; the re-rank itself touches P·K rows per query. Pool
    relevances and candidate-candidate sims are fround-snapped BEFORE
    the argmax so both engines break ties identically. The oracle
    replays the identical unrolled greedy as chained CTEs."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.filter(F.expr(_QUERY_PRED))
    q = F.broadcast(
        qs.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            l2_norm(F.col("embedding")).alias("qn"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    rel = fround(cosine_from_norms("qv", "cv", "qn", "cn"), 6)
    w_rel = W.partitionBy("query_id").orderBy(F.col("rel").desc(), "cid")
    # the pool (top-P retrieval per query — the only data-sized step)
    # and the candidate-candidate sim table are consumed by EVERY
    # unrolled MMR round below; without a checkpoint each round
    # re-ran the corpus-wide retrieval join + window. Materialize both
    # once — pool is P rows/query, cc is ≤P² rows/query, both bounded
    # by the fixed panel (guide §5 caching).
    pool = (
        q.join(c, F.col("query_id") != F.col("cid"))
        .select("query_id", "cid", "cv", "cn", rel.alias("rel"))
        .withColumn("prank", F.row_number().over(w_rel))
        .filter(F.col("prank") <= MMR_POOL)
        .localCheckpoint(eager=False)
    )
    a = pool.select("query_id", F.col("cid").alias("c1"), F.col("cv").alias("v1"), F.col("cn").alias("n1"))
    b = pool.select("query_id", F.col("cid").alias("c2"), F.col("cv").alias("v2"), F.col("cn").alias("n2"))
    cc = a.join(b, "query_id").filter(F.col("c1") != F.col("c2")).select(
        F.col("query_id").alias("qid_cc"),
        "c1",
        "c2",
        fround(cosine_from_norms("v1", "v2", "n1", "n2"), 6).alias("sim_cc"),
    ).localCheckpoint(eager=False)
    lam = F.lit(MMR_LAMBDA)
    sel = pool.filter(F.col("prank") == 1).select(
        "query_id",
        F.col("cid").alias("sel_id"),
        F.lit(1).alias("mmr_rank"),
        "rel",
        fround(lam * F.col("rel"), 6).alias("mmr_score"),
    )
    chosen = sel.select("query_id", "sel_id")
    for r in range(2, MMR_K + 1):
        # penalty = max sim to any already-selected; one bounded join
        pen = (
            pool.join(chosen, "query_id")
            .join(
                cc,
                (F.col("qid_cc") == F.col("query_id"))
                & (F.col("c1") == F.col("cid"))
                & (F.col("c2") == F.col("sel_id")),
            )
            .groupBy("query_id", "cid", "rel")
            .agg(F.max("sim_cc").alias("pen"))
        )
        remaining = pen.join(
            chosen.select("query_id", F.col("sel_id").alias("cid")),
            ["query_id", "cid"],
            "left_anti",
        )
        score = fround(lam * F.col("rel") - (F.lit(1.0) - lam) * F.col("pen"), 6)
        w_s = W.partitionBy("query_id").orderBy(F.col("mmr_score").desc(), "cid")
        pick = (
            remaining.select("query_id", "cid", "rel", score.alias("mmr_score"))
            .withColumn("srank", F.row_number().over(w_s))
            .filter(F.col("srank") == 1)
            .select(
                "query_id",
                F.col("cid").alias("sel_id"),
                F.lit(r).alias("mmr_rank"),
                "rel",
                "mmr_score",
            )
        )
        sel = sel.unionByName(pick)
        chosen = sel.select("query_id", "sel_id")
    return sel.select(
        "query_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        F.col("sel_id").alias("doc_id"),
        fround("rel", 4).alias("rel"),
        fround("mmr_score", 4).alias("mmr_score"),
    ).orderBy("query_id", "mmr_rank")


ann_mmr_rerank.__doc__ = ann_mmr_rerank.__doc__.format(k=MMR_K, p=MMR_POOL)


def _mmr_oracle_sql() -> str:
    """Generate the unrolled-greedy MMR oracle from the SAME policy
    constants the Spark side loops over (MMR_K rounds, MMR_POOL pool,
    MMR_LAMBDA weight) — round r's penalty is max candidate-candidate
    sim to the r-1 already-selected ids, exactly the Spark loop body.
    Generated, not hand-unrolled: a retune of MMR_K/MMR_LAMBDA cannot
    leave a stale literal twin behind (the defect class the
    policy-constant audit guards)."""
    rounds = []
    for r in range(2, MMR_K + 1):
        prev = list(range(1, r))
        sel_joins = "\n  ".join(
            f"JOIN s{i} ON s{i}.query_id = p.query_id" for i in prev
        )
        sel_ids = ", ".join(f"s{i}.sel_id" for i in prev)
        not_sel = " AND ".join(f"p.cid <> s{i}.sel_id" for i in prev)
        rounds.append(f"""
r{r} AS (
  SELECT p.query_id, p.cid, p.rel,
         floor(round({MMR_LAMBDA} * p.rel - {1.0 - MMR_LAMBDA} * max(cc.sim_cc), 10) * 1000000) / 1000000 AS mmr_score
  FROM pool p
  {sel_joins}
  JOIN cc ON cc.query_id = p.query_id AND cc.c1 = p.cid
         AND cc.c2 IN ({sel_ids})
  WHERE {not_sel}
  GROUP BY p.query_id, p.cid, p.rel, {sel_ids}
),
s{r} AS (
  SELECT query_id, cid AS sel_id, rel, mmr_score FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY mmr_score DESC, cid) AS rn
    FROM r{r}
  ) WHERE rn = 1
)""")
    allsel = "\n  UNION ALL\n  ".join(
        f"SELECT query_id, {r} AS mmr_rank, sel_id, rel, mmr_score FROM s{r}"
        for r in range(1, MMR_K + 1)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE {_QUERY_PRED}),
pool AS MATERIALIZED (
  SELECT query_id, cid, rel, cv FROM (
    SELECT q.query_id, e.vec_id AS cid, e.v AS cv,
           {_cos_sql('q.qv', 'e.v')} AS rel,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_cos_sql('q.qv', 'e.v')} DESC, e.vec_id
           ) AS prank
    FROM q JOIN e ON q.query_id <> e.vec_id
  ) WHERE prank <= {MMR_POOL}
),
cc AS MATERIALIZED (
  SELECT a.query_id, a.cid AS c1, b.cid AS c2,
         {_cos_sql('a.cv', 'b.cv')} AS sim_cc
  FROM pool a JOIN pool b
    ON b.query_id = a.query_id AND a.cid <> b.cid
),
s1 AS (
  SELECT query_id, cid AS sel_id, rel,
         floor(round({MMR_LAMBDA} * rel, 10) * 1000000) / 1000000 AS mmr_score
  FROM (
    SELECT query_id, cid, rel,
           row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cid) AS rn
    FROM pool
  ) WHERE rn = 1
),{",".join(rounds)},
allsel AS (
  {allsel}
)
SELECT query_id, CAST(mmr_rank AS INT) AS mmr_rank, sel_id AS doc_id,
       floor(round(rel, 8) * 10000) / 10000 AS rel,
       floor(round(mmr_score, 8) * 10000) / 10000 AS mmr_score
FROM allsel
ORDER BY query_id, mmr_rank
"""


ORACLE["ann_mmr_rerank"] = _mmr_oracle_sql()


def ann_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-balance audit — the index-health report that predicts
    probe latency BEFORE queries run: per coarse-quantizer cell, its
    occupancy and share, plus the three summary numbers every vector-
    DB operator watches, repeated as columns — imbalance factor
    K·max(n)/N (1.0 = perfectly balanced; the tail-latency multiplier,
    since the slowest probe scans the fattest cell), expected probe
    cost Σn²/N (candidates scanned when queries land in cells
    proportionally to their mass — the THROUGHPUT number; equals N/K
    only when balanced), and the balanced-cost baseline N/K. Empty
    cells are reported (occupancy 0), not dropped — a dead centroid is
    exactly what the audit exists to catch. Same deterministic
    quantizer as ``ann_topk_ivf`` (first-K centroids, floored-cosine
    assignment, centroid-id tie-break), so this audit describes the
    index that slug actually probes.

    Scale shape: one broadcast-centroid assignment pass over the
    corpus (the ``ivf_assign`` inverted-file build), ONE partial-
    combined aggregation onto the K-row cell key, then scalar
    arithmetic via a broadcast 1-row summary. No data-sized joins
    beyond the map-side assignment."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(emb, "vec_id", "embedding")
    assigned = ivf_assign_index(spark, sf_dir)
    occ = (
        cents.select("cid")
        .join(
            assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vecs")),
            "cid",
            "left",
        )
        .select("cid", F.coalesce("n_vecs", F.lit(0)).alias("n_vecs"))
    )
    tot = occ.agg(
        F.sum("n_vecs").alias("n_total"),
        F.count(F.lit(1)).alias("k_cells"),
        F.max("n_vecs").alias("n_max"),
        F.sum(F.col("n_vecs") * F.col("n_vecs")).alias("sum_sq"),
    )
    return (
        occ.crossJoin(F.broadcast(tot))
        .select(
            F.col("cid").cast("int").alias("cid"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            fround(F.col("n_vecs") / F.col("n_total").cast("double"), 6).alias(
                "share"
            ),
            F.col("k_cells").cast("bigint").alias("k_cells"),
            fround(
                F.col("k_cells") * F.col("n_max") / F.col("n_total").cast("double"),
                6,
            ).alias("imbalance_factor"),
            fround(
                F.col("sum_sq") / F.col("n_total").cast("double"), 6
            ).alias("expected_probe_cost"),
            fround(
                F.col("n_total") / F.col("k_cells").cast("double"), 6
            ).alias("balanced_cost"),
        )
        .orderBy("cid")
    )


ORACLE["ann_ivf_balance_audit"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {IVF_K}),
asg AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.v', 'c.cv')} DESC, c.cid) AS rn
    FROM e CROSS JOIN c
  ) t WHERE rn = 1
),
occ AS (
  SELECT c.cid, CAST(coalesce(n.n_vecs, 0) AS BIGINT) AS n_vecs
  FROM c LEFT JOIN (SELECT cid, count(*) AS n_vecs FROM asg GROUP BY 1) n
    USING (cid)
),
tot AS (
  SELECT sum(n_vecs) AS n_total, count(*) AS k_cells,
         max(n_vecs) AS n_max, sum(n_vecs * n_vecs) AS sum_sq
  FROM occ
)
SELECT CAST(cid AS INT) AS cid, n_vecs,
       {fround_sql("n_vecs / CAST(n_total AS DOUBLE)", 6)} AS share,
       CAST(k_cells AS BIGINT) AS k_cells,
       {fround_sql("k_cells * n_max / CAST(n_total AS DOUBLE)", 6)}
         AS imbalance_factor,
       {fround_sql("sum_sq / CAST(n_total AS DOUBLE)", 6)}
         AS expected_probe_cost,
       {fround_sql("n_total / CAST(k_cells AS DOUBLE)", 6)} AS balanced_cost
FROM occ, tot
ORDER BY cid
"""


QUERIES = {
    "ann_ivf_balance_audit": ann_ivf_balance_audit,
    "ann_range_search": ann_range_search,
    "ann_mmr_rerank": ann_mmr_rerank,
    "embedding_isotropy_audit": embedding_isotropy_audit,
    "embedding_cluster_purity": embedding_cluster_purity,
    "ann_ndcg_eval": ann_ndcg_eval,
    "ann_topk_hamming": ann_topk_hamming,
    "dedup_semantic_cluster": dedup_semantic_cluster,
    "ann_truncate_recall": ann_truncate_recall,
    "embedding_hard_negatives": embedding_hard_negatives,
    "embedding_centroid_drift": embedding_centroid_drift,
    "embedding_label_compactness": embedding_label_compactness,
    "ann_filtered_vs_postfilter": ann_filtered_vs_postfilter,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "embedding_outlier_mahalanobis": embedding_outlier_mahalanobis,
    "ann_nprobe_curve": ann_nprobe_curve,
    "ann_maxsim_multivector": ann_maxsim_multivector,
    "ann_pq_encode": ann_pq_encode,
    "ann_topk_pq": ann_topk_pq,
    "ann_topk_ivfpq": ann_topk_ivfpq,
    "ann_topk_int8": ann_topk_int8,
    "ann_topk_bucketed": ann_topk_bucketed,
    "ann_recall_eval": ann_recall_eval,
    "ann_topk_ivf": ann_topk_ivf,
    "embedding_centroids": embedding_centroids,
    "knn_classify": knn_classify,
    "embedding_kmeans": embedding_kmeans,
    "embedding_covariance": embedding_covariance,
    "embedding_power_iteration": embedding_power_iteration,
    "embedding_quantize_int8": embedding_quantize_int8,
    "embedding_text_align": embedding_text_align,
    "ann_rerank_two_stage": ann_rerank_two_stage,
}
