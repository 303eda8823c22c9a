"""Deduplication operators for LLM training-data pipelines.

Not present in the reference (its only dedup-adjacent machinery is
group-by-key, ``worker.rs:126-131``); built per the project north star
as first-class engine surface. Five strategies, each with a DuckDB
oracle (every hash function is md5-derived specifically so the oracle
can reproduce it bit-for-bit — engine-native hashes like xxhash64
differ between engines):

* **exact** — content-hash groupBy. One shuffle on the hash; at
  100 TB this is the cheapest and always runs first to shrink input
  for the fuzzy passes.
* **n-gram Jaccard** — exact pairwise similarity via a shingle
  inverted index (self-join on shingle). Quadratic in docs-per-
  shingle: the correctness baseline the sketch methods approximate.
* **MinHash + LSH** — linear-time near-dup candidates: per-doc
  signature of P min-hashes, banded so any pair agreeing on one full
  band becomes a candidate. THE scale path for fuzzy dedup.
* **SimHash** — weighted bit-vote fingerprint (48-bit in the registry
  query); hamming-distance pairs via pigeonhole banding.
* **embedding cosine** — semantic near-dup over the embeddings table.
* **LSH + verification** — the production composition: LSH candidates
  confirmed by exact Jaccard computed only on candidate pairs.

Downstream, ``operators.graph.connected_components`` turns any of the
pair outputs into duplicate clusters (survivor = min id per
component).

Scale notes: all pair-producing operators key their shuffles on
content-derived values (shingle, band signature, bucket), never on a
global cross join — except the brute-force cosine baseline, which is
deliberately quadratic (documented) and exists as the oracle-checked
reference for the bucketed variant in ``similarity.py``.
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
    word_shingles,
)
# INDEX_BUILD_SECONDS is re-exported: perfbench reads the ledger from here
from mapreduce_rust_spark.indexes import INDEX_BUILD_SECONDS, session_index  # noqa: F401
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

# --- shared SQL fragments (DuckDB side of the shared semantics) -----

# normalized tokens with 1-based positions
_TOK_SQL = f"""
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
  FROM (
    SELECT doc_id, string_split({normalize_sql('text')}, ' ') AS l
    FROM documents
    WHERE {normalize_sql('text')} <> ''
  ) x
"""

# distinct 3-word shingles per doc
_SHINGLE_SQL = f"""
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS s
  FROM ({_TOK_SQL}) a
  JOIN ({_TOK_SQL}) b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN ({_TOK_SQL}) c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
"""


def _capped_shingle_sql(max_df: int) -> str:
    """The oracle twin of :func:`stop_shingle_filter`: the shingle set
    with document frequency capped at ``max_df`` (window-count form —
    one pass instead of a groupBy+join)."""
    return f"""
  SELECT doc_id, s FROM (
    SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS _df
    FROM ({_SHINGLE_SQL}) raw_sh
  ) WHERE _df <= {max_df}
"""


# --- MinHash parameters (deterministic, shared verbatim with SQL) ---

MINHASH_PRIME = 2147483647  # 2^31 - 1; a*(h%p)+b stays within int64
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS


def _minhash_params() -> list[tuple[int, int]]:
    """(a_j, b_j) for j in 0..N_HASHES-1 — fixed arithmetic, no RNG,
    so the oracle inlines the identical literals."""
    return [
        ((2654435761 * (j + 1)) % MINHASH_PRIME, (40503 * (j + 7) + 1) % MINHASH_PRIME)
        for j in range(N_HASHES)
    ]


# --- library operators (DataFrame in → DataFrame out) ---------------


def exact_duplicate_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Group rows by exact content hash → (content_hash, keep_id,
    n_copies). keep_id = min id, the canonical survivor. One shuffle
    keyed on the hash; survives any scale."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, s)."""
    return df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("s")
    ).distinct()


# Default posting-list bound for the exact pairwise scorers. A shingle
# shared by D documents yields D·(D-1)/2 pairs in the self-join, so one
# boilerplate shingle on 1 M docs means ~5·10¹¹ pairs — THE scale-
# killer of exact set-similarity. Capping document frequency bounds
# every posting list (≤ MAX_SHINGLE_DF²/2 pairs per shingle) and is
# standard practice: a shingle that frequent is boilerplate and carries
# no similarity signal anyway. 128 does not bind at the test SFs
# (measured max df: 7 at sf0.01, 25 at sf0.1), and the oracle SQL
# mirrors the filter so the semantics stay value-checked even when it
# does bind.
MAX_SHINGLE_DF = 128


def stop_shingle_filter(sh: DataFrame, id_col: str, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``
    (stop-shingles). ``sh`` is distinct per (doc, shingle), so df is a
    plain count; the filtered frame defines the reduced universe that
    sizes AND intersections are computed over — self-consistent
    'similarity over non-boilerplate shingles' semantics."""
    dfreq = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("s")
    )
    return sh.join(dfreq, "s")


def pair_intersection_stats(
    sh: DataFrame, id_col: str, max_df: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """(d1, d2, i, n1, n2) for every document pair sharing ≥1 shingle:
    the shared substrate of every set-similarity score — Jaccard,
    containment, overlap coefficient all derive from these five
    numbers. One shingle self-join + one size join-back; the costliest
    stage of exact pairwise dedup, built once and reused.

    ``max_df`` bounds every posting list entering the self-join (see
    :data:`MAX_SHINGLE_DF`); pass ``None`` for the uncapped plan —
    acceptable only when an upstream bound on docs-per-shingle exists."""
    if max_df is not None:
        sh = stop_shingle_filter(sh, id_col, max_df)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1 = sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("n2"))
    return inter.join(n1, "d1").join(n2, "d2")


def pair_stats_index(
    spark: SparkSession, sf_dir: str, k: int = 3, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Session index of pair-intersection statistics over the
    documents shingle index — consumed by both the Jaccard and the
    containment scorers, so the shingle self-join runs once per
    dataset instead of once per metric."""
    return session_index(
        spark, sf_dir, f"pairstats-k{k}-df{max_df}",
        lambda: pair_intersection_stats(
            shingle_index(spark, sf_dir, k), "doc_id", max_df=max_df
        ),
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.25,
    sh: DataFrame | None = None,
    max_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact pairwise Jaccard over k-shingle sets, via inverted index
    (:func:`pair_intersection_stats` — self-join on shingle →
    |intersection| per pair, sizes joined back). Output
    (d1, d2, jaccard) with d1 < d2.

    jaccard = i/(n1+n2-i) over exact ints: bit-identical across
    engines, no rounding needed. Cost is Σ_s count(s)², bounded by the
    ``max_df`` stop-shingle cap; for web-scale corpora run MinHash
    LSH (below) and reserve this for candidate verification.

    The shingle frame feeds several plan branches (df filter, both
    self-join sides, the size table); persist() keeps the
    explode+distinct from re-running — at cluster scale, checkpoint
    it to parquet."""
    if sh is None:
        sh = shingle_sets(df, id_col, text_col, k).persist()
    stats = pair_intersection_stats(sh, id_col, max_df=max_df)
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return stats.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Wide signature frame: (id, mh0..mh{P-1}), computed entirely
    per-row with array higher-order functions — ZERO shuffle: shingle
    the text, hash each shingle once, then take P ``array_min``s over
    the permuted hash array. The earlier explode→groupBy formulation
    needed a hash-aggregate stage (cheap after partial agg, but still
    a full extra stage + shuffle of 16 ints/doc); this one is a pure
    map, so signature computation scales with input bytes and nothing
    else. No distinct on shingles either — min() is idempotent over
    duplicates. Documents with fewer than ``k`` tokens have no
    shingles and are excluded (as the explode form did implicitly)."""
    harr = F.transform(word_shingles(text_col, k), lambda s: hash64(s) % MINHASH_PRIME)
    hashed = df.select(F.col(id_col), harr.alias("_h")).filter(F.size("_h") > 0)
    return hashed.select(
        id_col,
        *[
            F.array_min(
                F.transform("_h", lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME)
            ).alias(f"mh{j}")
            for j, (a, b) in enumerate(_minhash_params())
        ],
    )


def signature_index(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Session index of the MinHash signature table for the documents
    dataset at ``sf_dir``."""
    return session_index(
        spark, sf_dir, f"sig-k{k}",
        lambda: minhash_signatures(
            fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text", k
        ),
    )


def candidate_pairs_index(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, k: int = 3
) -> DataFrame:
    """Session index of the LSH candidate pairs at ``threshold`` —
    the shared edge list of the dedup graph family (components,
    survivor selection, PageRank all consume the same pairs; without
    sharing, each re-runs the band self-join)."""
    return session_index(
        spark, sf_dir, f"pairs-k{k}-t{threshold}",
        lambda: lsh_candidate_pairs(signature_index(spark, sf_dir, k), "doc_id").filter(
            F.col("est_sim") >= threshold
        ),
    )


def shingle_index(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Session index of the distinct-shingle table — the second
    shared dedup artifact (exact Jaccard + LSH verification both
    consume it)."""
    return session_index(
        spark, sf_dir, f"shingle-k{k}",
        lambda: shingle_sets(
            fan_out(load_table(spark, sf_dir, "documents")), "doc_id", "text", k
        ),
    )


def lsh_candidate_pairs(sigs: DataFrame, id_col: str) -> DataFrame:
    """Band the signatures and self-join on (band, band-signature):
    (d1, d2, est_sim). est_sim = fraction of agreeing hash components
    (k/P — exact in binary, oracle-safe). The join key is the band
    signature, so work scales with bucket sizes, not n².

    Shape choices that matter at scale: (1) each banded row carries the
    full 16-int signature array, so est_sim falls out of the one
    self-join — no join-back to the signature table (the naive
    cand→s1→s2 plan adds two more shuffles AND recomputes the whole
    shingle pipeline per branch); (2) the banded frame is persisted
    before the self-join because Spark evaluates each join branch
    independently — without it the signature aggregation runs twice
    (measured 2.5 s → 0.9 s at sf0.1; at cluster scale you would
    checkpoint this frame to parquet instead)."""
    sig_arr = F.array(*[F.col(f"mh{j}") for j in range(N_HASHES)])
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-",
                *[F.col(f"mh{j}") for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)],
            ).alias("sig"),
        )
        for b in range(N_BANDS)
    ]
    bands = (
        sigs.select(
            F.col(id_col),
            sig_arr.alias("sig_arr"),
            F.explode(F.array(*band_structs)).alias("bs"),
        )
        .select(id_col, "sig_arr", "bs.band", "bs.sig")
        .persist()
    )
    a, b = bands.alias("a"), bands.alias("b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("a.sig_arr"), F.col("b.sig_arr"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            (matches / F.lit(float(N_HASHES))).alias("est_sim"),
        )
        .distinct()
    )


def lsh_star_edges(sigs: DataFrame, id_col: str) -> DataFrame:
    """LINEAR-output LSH candidates for CLUSTERING: per (band, band-
    signature) bucket emit only the star edges (bucket-min id, member)
    instead of all member pairs. Connectivity-equivalent — every
    member connects to the bucket representative, so connected
    components over these edges equal components over the full
    quadratic pair set — but output is O(bucket size), not
    O(bucket size²). THE shape for dup-heavy corpora, where a
    boilerplate cluster of 1 M near-identical docs makes the pair
    join emit ~5·10¹¹ candidates while the star emits 10⁶.

    No self-join at all: one groupBy per banded row computing the
    bucket min, one filter dropping the representative's self-edge,
    one distinct across bands. Pairs carry no est_sim (stars skip the
    signature comparison); verification belongs on the (linear) edge
    set, exactly like ``lsh_verified_pairs`` on the pair set."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-",
                *[F.col(f"mh{j}") for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)],
            ).alias("sig"),
        )
        for b in range(N_BANDS)
    ]
    bands = sigs.select(
        F.col(id_col),
        F.explode(F.array(*band_structs)).alias("bs"),
    ).select(id_col, "bs.band", "bs.sig")
    w_min = F.min(id_col).over(Window.partitionBy("band", "sig"))
    return (
        bands.withColumn("d1", w_min)
        .filter(F.col("d1") < F.col(id_col))
        .select("d1", F.col(id_col).alias("d2"))
        .distinct()
    )


def dedup_lsh_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-edge LSH candidates over the documents corpus — the
    linear-output clustering feed (see :func:`lsh_star_edges`)."""
    return lsh_star_edges(signature_index(spark, sf_dir, k=3), "doc_id").orderBy(
        "d1", "d2"
    )


def _lsh_star_oracle() -> str:
    params = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_params()))
    return f"""
WITH ds AS ({_SHINGLE_SQL}),
h AS (SELECT doc_id, {hash64_sql('s')} AS h FROM ds),
params(j, a, b) AS (VALUES {params}),
sig AS (
  SELECT doc_id, j,
         min((a * (h % {MINHASH_PRIME}) + b) % {MINHASH_PRIME}) AS mh
  FROM h CROSS JOIN params GROUP BY doc_id, j
),
band AS (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band,
         array_to_string(list(mh ORDER BY j), '-') AS sig
  FROM sig GROUP BY doc_id, j // {ROWS_PER_BAND}
),
stars AS (
  SELECT min(doc_id) OVER (PARTITION BY band, sig) AS d1, doc_id AS d2
  FROM band
)
SELECT DISTINCT d1, d2 FROM stars WHERE d1 < d2 ORDER BY d1, d2
"""


ORACLE["dedup_lsh_star"] = _lsh_star_oracle()


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """``bits``-wide SimHash per document: token-frequency-weighted bit
    votes over md5-derived token hashes. (``bits`` ≤ 60: hash64 width.)

    Single aggregation straight off the exploded tokens: tf-weighting
    a distinct-token table is identical to summing ±1 over every token
    OCCURRENCE (f·(2b−1) ≡ Σ_occurrences (2b−1)), so the classic
    groupBy(id, word) pre-count is a pure waste of a shuffle. Map-side
    partial aggregation collapses each doc to ``bits`` longs before
    the one remaining shuffle."""
    toks = df.select(
        F.col(id_col), F.explode(tokenize_whitespace(normalize_text(text_col))).alias("w")
    )
    h = hash64(F.col("w")).bitwiseAND(F.lit((1 << bits) - 1))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(2 * F.shiftright(h, j).bitwiseAND(F.lit(1)) - 1).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fingerprint = sum(
        F.when(F.col(f"b{j}") >= 0, F.lit(1 << j).cast("bigint")).otherwise(0)
        for j in range(bits)
    )
    return votes.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_pairs(fp: DataFrame, id_col: str, max_hamming: int = 3) -> DataFrame:
    """All pairs within hamming distance — brute-force n²/2 baseline
    (cross join). Kept as the verification twin of the banded variant
    below; use :func:`simhash_pairs_banded` for anything large.
    persist() so the fingerprint aggregation (the expensive part) runs
    once, not once per join side."""
    fp = fp.persist()
    a = fp.select(F.col(id_col).alias("d1"), F.col("simhash").alias("s1"))
    b = fp.select(F.col(id_col).alias("d2"), F.col("simhash").alias("s2"))
    ham = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("int")
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_banded(
    fp: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """EXACTLY the same result as :func:`simhash_pairs`, without the
    cross join: pigeonhole banding. Split the ``bits``-bit fingerprint
    into ``n_bands`` equal bands; a pair within hamming ≤ max_hamming
    flips at most ``max_hamming`` < n_bands bands, so at least one
    band matches bit-for-bit — equi-joining on (band index, band
    value) finds every qualifying pair (requires
    max_hamming < n_bands; asserted). Work scales with band-bucket
    sizes instead of n²; the hamming check on the joined candidates
    removes false candidates, distinct removes multi-band duplicates."""
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole requires max_hamming < n_bands")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    fp = fp.persist()
    bands = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "simhash", "bs.band", "bs.bv")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# executor-process-local cache of GEMM side-input matrices, keyed by
# scratch path; populated lazily by the first task on each worker
_GEMM_SIDE: dict[str, tuple] = {}


def _gemm_side_input(path: str):
    """Load (ids, unit-normalized matrix) from the side-input parquet,
    once per executor process. Runs ON THE WORKER — the driver only
    ships the path string."""
    if path not in _GEMM_SIDE:
        import numpy as np
        import pyarrow.dataset as ds

        t = ds.dataset(path, format="parquet").to_table()
        ids = t.column("_id").to_numpy()
        m = np.stack(t.column("_v").to_pandas().to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        _GEMM_SIDE[path] = (ids, m / norms)
    return _GEMM_SIDE[path]


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.3,
    sf_dir: str | None = None,
) -> DataFrame:
    """Brute-force cosine pairs ≥ threshold (the exactness baseline;
    the bucketed/ANN variants in similarity.py are the scale path).

    Kernel: Arrow-batched numpy GEMM. Each partition's block of rows
    is multiplied against the full (unit-normalized) corpus matrix in
    one BLAS call — ~100× faster than per-pair ``zip_with`` expression
    evaluation (measured 82 s → <2 s at sf0.1). The corpus matrix is
    a SIDE-INPUT FILE: a distributed parquet write of (id, vec), which
    each executor reads once and caches process-locally — the driver
    never materializes the corpus (the former ``toPandas()`` +
    ``sparkContext.broadcast`` did, serializing the whole matrix
    through one process). On a cluster the scratch path must be
    shared storage (HDFS/S3) — the same contract as any side-input.
    The matrix must fit in executor memory (same bound as a broadcast
    join); beyond that, all-pairs is infeasible by definition and the
    LSH/bucketed variants apply. cos is truncated via
    floor(round(x,8)*1e4)/1e4 before thresholding, mirroring the
    oracle (see functions/numeric.py for why round-then-floor)."""
    import os

    import numpy as np
    import pandas as pd

    from mapreduce_rust_spark.session import scratch_dir

    def write_side() -> str:
        path = os.path.join(scratch_dir(prefix="mrs_gemm_"), "corpus")
        emb.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
        ).write.mode("overwrite").parquet(path)
        return path

    # When ``emb`` is the embeddings table of the dataset at ``sf_dir``,
    # the side-input write is a session index: re-invocations skip the
    # write AND hit the executors' process-local matrix cache (same
    # path → same _GEMM_SIDE entry). Any other frame pays a fresh write.
    if sf_dir is None:
        side_path = write_side()
    else:
        side_path = session_index(emb.sparkSession, sf_dir, "gemm-emb", write_side)

    def block(batches):
        b_ids, b_mn = _gemm_side_input(side_path)
        # Truncation threshold in the floor'd integer domain: sims are
        # floor(round(x,8)*1e4) (integer-valued floats), so comparing
        # against floor(round(thr,8)*1e4) is exactly the oracle's
        # floor(...)/1e4 >= thr.
        thr = float(np.floor(np.round(np.float64(threshold), 8) * 10000))
        # The GEMM runs in ROW CHUNKS through ONE reused output buffer.
        # Two reasons: (a) a fresh python worker pays a first-touch
        # page-fault stall proportional to every new allocation's size
        # (measured: a full 2000x2000 sims materialization cost 7.8 s
        # cold vs 0.05 s warm at sf0.1 — the chunked buffer drops cold
        # cost ~10x); (b) resident memory stays CHUNK x n_corpus
        # instead of batch x n_corpus as the corpus grows — the
        # all-pairs baseline's honest memory bound.
        chunk = 128
        out = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            an = np.linalg.norm(a, axis=1, keepdims=True)
            an[an == 0] = 1.0
            a = a / an
            a_ids = pdf[id_col].to_numpy()
            d1, d2, cs = [], [], []
            if out is None or out.shape[1] != b_mn.shape[0]:
                out = np.empty((chunk, b_mn.shape[0]), dtype="float64")
            for s0 in range(0, a.shape[0], chunk):
                ab = a[s0 : s0 + chunk]
                g = out[: ab.shape[0]]
                np.matmul(ab, b_mn.T, out=g)
                np.round(g, 8, out=g)
                np.multiply(g, 10000, out=g)
                np.floor(g, out=g)
                for i in range(ab.shape[0]):
                    aid = a_ids[s0 + i]
                    mask = (g[i] >= thr) & (b_ids > aid)
                    d1.extend([aid] * int(mask.sum()))
                    d2.extend(b_ids[mask])
                    cs.extend(g[i][mask] / 10000)
            yield pd.DataFrame({"d1": d1, "d2": d2, "cos_sim": cs})

    return emb.select(id_col, vec_col).mapInPandas(
        block, schema="d1 bigint, d2 bigint, cos_sim double"
    )


# --- registry queries + oracles -------------------------------------


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs at 0.8 over the documents corpus, sharing
    the memoized pair-intersection statistics with the Jaccard slug —
    only the score expression differs."""
    stats = pair_stats_index(spark, sf_dir, k=3)
    cont = F.col("i") / F.least("n1", "n2")
    return stats.select("d1", "d2", cont.alias("containment")).filter(
        F.col("containment") >= 0.8
    )


ORACLE["dedup_containment"] = f"""
WITH sh AS ({_capped_shingle_sql(MAX_SHINGLE_DF)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, CAST(i AS DOUBLE) / least(n1.n, n2.n) AS containment
FROM inter
JOIN sizes n1 ON n1.doc_id = d1
JOIN sizes n2 ON n2.doc_id = d2
WHERE CAST(i AS DOUBLE) / least(n1.n, n2.n) >= 0.8
"""


def incremental_dedup(
    corpus: DataFrame, batch: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Incremental ingestion dedup: documents in ``batch`` survive only
    if their content hash appears neither in the existing ``corpus``
    nor earlier (lower id) within the batch itself — the daily-ingest
    shape, where the corpus side is the pre-built hash index and only
    the (much smaller) batch shuffles against it. Left-anti join on
    the hash + a first-per-hash window inside the batch."""
    from pyspark.sql import Window as W

    corpus_hashes = corpus.select(F.md5(F.col(content_col)).alias("content_hash")).distinct()
    hashed = batch.select(
        F.col(id_col), F.md5(F.col(content_col)).alias("content_hash")
    )
    fresh = hashed.join(corpus_hashes, "content_hash", "left_anti")
    w = W.partitionBy("content_hash").orderBy(id_col)
    return (
        fresh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, "content_hash")
    )


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-id docs stand in for the existing corpus, odd-id docs for
    the incoming batch; count + list survivors of the batch."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup(corpus, batch, "doc_id", "text").orderBy("doc_id")


ORACLE["dedup_incremental"] = """
WITH corpus AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 0
),
batch AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 2 = 1
),
fresh AS (
  SELECT b.* FROM batch b ANTI JOIN corpus c USING (content_hash)
)
SELECT doc_id, content_hash
FROM (
  SELECT doc_id, content_hash,
         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rk
  FROM fresh
) WHERE rk = 1
ORDER BY doc_id
"""


INC_LSH_THRESHOLD = 0.5  # batch-vs-corpus near-dup flag level
INC_LSH_BATCH_CAP = 20_000  # batch ids from [0, CAP) only — an INGEST BATCH is FIXED-SIZE (the corpus-fraction lesson, 5th instance: a half-the-corpus "batch" made the band probe quadratic — sf10→sf100 exponent 2.06 before this cap)


def dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup — the daily-ingest near-dup screen
    that ``dedup_incremental`` (exact content hash) cannot express:
    the incoming batch's MinHash band signatures join against the
    EXISTING corpus's banded index only (batch x corpus, never
    batch x batch or corpus x corpus), and each batch doc reports its
    best corpus match at est_sim >= {t}. The production property this
    demonstrates: MinHash signatures are MERGEABLE state (min of mins)
    and band buckets are an additive index, so at 100 TB the corpus
    side is a maintained parquet artifact the batch probes — nothing
    rescans history (here both sides derive from one signature pass
    over the parity-split table because the demo owns no cross-run
    state; the join topology is the production one). Even ids stand
    in for the corpus; the batch is odd ids BELOW {cap} — a daily
    ingest batch is FIXED-SIZE, it does not grow with history (the
    corpus-fraction lesson, fifth instance: with batch = half the
    corpus, batch-side bucket membership grew with sf and the band
    probe measured sf10→sf100 exponent 2.06; with the fixed batch the
    probe cost is index-bound and linear). The cap never binds at the
    driver gate scales (≤5 k docs), so gate results are unchanged;
    the sf1 value check exercises the binding cap cross-engine.
    Output per flagged batch doc: its best corpus match (highest
    est_sim, lowest corpus id on ties)."""
    sigs = signature_index(spark, sf_dir, k=3)
    sig_arr = F.array(*[F.col(f"mh{j}") for j in range(N_HASHES)])
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
        "doc_id",
        sig_arr.alias("sig_arr"),
        F.explode(F.array(*band_structs)).alias("bs"),
    ).select("doc_id", "sig_arr", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    corpus = bands.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sig_arr").alias("corpus_arr"),
        "band",
        "sig",
    )
    batch = bands.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < INC_LSH_BATCH_CAP)
    ).select(
        F.col("doc_id").alias("batch_id"),
        F.col("sig_arr").alias("batch_arr"),
        "band",
        "sig",
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("batch_arr"), F.col("corpus_arr"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    cand = (
        batch.join(corpus, ["band", "sig"])
        .select(
            "batch_id",
            "corpus_id",
            (matches / F.lit(float(N_HASHES))).alias("est_sim"),
        )
        .distinct()
        .filter(F.col("est_sim") >= INC_LSH_THRESHOLD)
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("est_sim").desc(), "corpus_id"
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("batch_id", "corpus_id", fround("est_sim", 4).alias("est_sim"))
        .orderBy("batch_id")
    )


dedup_lsh_incremental.__doc__ = dedup_lsh_incremental.__doc__.format(
    t=INC_LSH_THRESHOLD, cap=INC_LSH_BATCH_CAP
)


def _lsh_incremental_oracle() -> str:
    params = ", ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_params())
    )
    return f"""
WITH ds AS ({_SHINGLE_SQL}),
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
  SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM band b JOIN band c
    ON c.band = b.band AND c.sig = b.sig
   AND b.doc_id % 2 = 1 AND b.doc_id < {INC_LSH_BATCH_CAP}
   AND c.doc_id % 2 = 0
),
scored AS (
  SELECT cand.batch_id, cand.corpus_id,
         sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) / {N_HASHES}.0 AS est_sim
  FROM cand
  JOIN sig s1 ON s1.doc_id = cand.batch_id
  JOIN sig s2 ON s2.doc_id = cand.corpus_id AND s2.j = s1.j
  GROUP BY 1, 2
),
best AS (
  SELECT batch_id, corpus_id, est_sim,
         row_number() OVER (PARTITION BY batch_id
                            ORDER BY est_sim DESC, corpus_id) AS rk
  FROM scored WHERE est_sim >= {INC_LSH_THRESHOLD}
)
SELECT batch_id, corpus_id, {fround_sql("est_sim", 4)} AS est_sim
FROM best WHERE rk = 1 ORDER BY batch_id
"""


ORACLE["dedup_lsh_incremental"] = _lsh_incremental_oracle()


def exact_census_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the exact-duplicate census over the documents
    dataset — (content_hash, keep_id, n_copies). Four slugs consume the
    identical frame (``dedup_exact``, both corpus-prep pipelines, the
    dedup funnel report); production materializes the hash census once
    per corpus snapshot the same way."""
    return session_index(
        spark, sf_dir, "exact-census",
        lambda: exact_duplicate_groups(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_census_index(spark, sf_dir)


ORACLE["dedup_exact"] = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, top: int = 100
) -> DataFrame:
    """Exact substring-level duplication signal: k-token spans (word
    shingles over normalized text, positions kept — NOT deduped per
    doc) that appear in ≥ 2 distinct documents, ranked by total
    occurrence count. The span-granular cousin of document-level
    dedup — what you run to find boilerplate/licence blocks/templates
    repeated ACROSS documents before they leak into training data.

    One explode + one aggregation keyed on the span text: at corpus
    scale the span stream is ~|tokens| rows but partial aggregation
    collapses it map-side; the ≥2-docs filter runs after a
    countDistinct whose per-span state is tiny. Top-k bounds the
    output; the full span table is the same plan minus the limit."""
    spans = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("span")
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_occ").desc(), "span")
        .limit(top)
    )


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return duplicated_spans(docs, "doc_id", "text", k=8, top=100)


ORACLE["dedup_span_exact"] = f"""
WITH tok AS ({_TOK_SQL}),
spans AS (
  SELECT doc_id,
         w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win
           || ' ' || lead(w,3) OVER win || ' ' || lead(w,4) OVER win
           || ' ' || lead(w,5) OVER win || ' ' || lead(w,6) OVER win
           || ' ' || lead(w,7) OVER win AS span
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
FROM spans WHERE span IS NOT NULL
GROUP BY span HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_occ DESC, span
LIMIT 100
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = pair_stats_index(spark, sf_dir, k=3)
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return stats.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.25
    )


ORACLE["dedup_ngram_jaccard"] = f"""
WITH ds AS ({_capped_shingle_sql(MAX_SHINGLE_DF)}),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, i / (s1.n + s2.n - i) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE i / (s1.n + s2.n - i) >= 0.25
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(signature_index(spark, sf_dir, k=3), "doc_id")


def _minhash_oracle() -> str:
    params = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_params()))
    return f"""
WITH ds AS ({_SHINGLE_SQL}),
h AS (SELECT doc_id, {hash64_sql('s')} AS h FROM ds),
params(j, a, b) AS (VALUES {params}),
sig AS (
  SELECT doc_id, j,
         min((a * (h % {MINHASH_PRIME}) + b) % {MINHASH_PRIME}) AS mh
  FROM h CROSS JOIN params GROUP BY doc_id, j
),
band AS (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band,
         array_to_string(list(mh ORDER BY j), '-') AS sig
  FROM sig GROUP BY doc_id, j // {ROWS_PER_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM band a JOIN band b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
SELECT c.d1, c.d2,
       sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) / {N_HASHES}.0 AS est_sim
FROM cand c
JOIN sig s1 ON s1.doc_id = c.d1
JOIN sig s2 ON s2.doc_id = c.d2 AND s2.j = s1.j
GROUP BY c.d1, c.d2
"""


ORACLE["dedup_minhash_lsh"] = _minhash_oracle()


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.7,
    sigs: DataFrame | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """THE production fuzzy-dedup shape: MinHash-LSH proposes
    candidates (linear), exact Jaccard verifies ONLY those candidates
    (never all pairs). Output (d1, d2, est_sim, jaccard) for verified
    pairs ≥ threshold.

    Work profile at 100 TB: signatures are a zero-shuffle map; the
    candidate join is keyed on band signatures; the verification join
    fans each candidate pair out by d1's shingles and matches d2's —
    cost ∝ |candidates| × shingles/doc, independent of n²."""
    if sigs is None:
        sigs = minhash_signatures(df, id_col, text_col, k)
    cand = lsh_candidate_pairs(sigs, id_col)
    if sh is None:
        sh = shingle_sets(df, id_col, text_col, k).persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("d1"), F.col("s").alias("s1"))
    b = sh.select(F.col(id_col).alias("_bd"), F.col("s").alias("s2"))
    inter = (
        cand.join(a, "d1")
        .join(b, (F.col("d2") == F.col("_bd")) & (F.col("s1") == F.col("s2")))
        .groupBy("d1", "d2", "est_sim")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1 = sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("n2"))
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", "est_sim", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_verified_pairs(
        docs, "doc_id", "text", k=3, threshold=0.7,
        sigs=signature_index(spark, sf_dir, k=3),
        sh=shingle_index(spark, sf_dir, k=3),
    )


def _lsh_verified_oracle() -> str:
    return f"""
WITH cand AS (
  SELECT d1, d2, est_sim FROM ({_minhash_oracle()})
),
ds AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT c.d1, c.d2, c.est_sim, count(*) AS i
  FROM cand c
  JOIN ds a ON a.doc_id = c.d1
  JOIN ds b ON b.doc_id = c.d2 AND b.s = a.s
  GROUP BY 1, 2, 3
)
SELECT d1, d2, est_sim, i / (s1.n + s2.n - i) AS jaccard
FROM inter
JOIN sizes s1 ON s1.doc_id = d1
JOIN sizes s2 ON s2.doc_id = d2
WHERE i / (s1.n + s2.n - i) >= 0.7
"""


ORACLE["dedup_lsh_verified"] = _lsh_verified_oracle()


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (pigeonhole) variant — provably identical output to the
    brute-force pair scan (equivalence-tested in tests/), checked
    against the n² oracle SQL. 48-bit fingerprints with 12-bit bands:
    wide enough that band buckets stay small on a near-dup-heavy
    corpus (8-bit bands of a 32-bit fingerprint collapse into hot
    buckets and the candidate join degenerates toward n² again —
    measured 9.2 s vs 2.4 s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs, "doc_id", "text", bits=48)
    return simhash_pairs_banded(fp, "doc_id", max_hamming=3, bits=48, n_bands=4)


_SIMHASH_BITS = 48

ORACLE["dedup_simhash"] = f"""
WITH tokf AS (
  SELECT doc_id, w, count(*) AS f FROM ({_TOK_SQL}) GROUP BY 1, 2
),
th AS (
  SELECT doc_id, {hash64_sql('w')} & {(1 << _SIMHASH_BITS) - 1} AS h, f FROM tokf
),
bits AS (
  SELECT doc_id, j, sum(f * (2 * ((h >> j) & 1) - 1)) AS wgt
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, {_SIMHASH_BITS - 1})) AS j)
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN wgt >= 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY 1
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fan_out: the GEMM kernel ships the corpus matrix in the task
    # closure, so extra partitions multiply serialization + worker
    # startup while each task's BLAS call shrinks — measured 2.0 s
    # (1 partition) vs 9.3 s (32) at sf0.1. Partitioning pays off only
    # when the A-side is large enough to dwarf the closure cost.
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.3, sf_dir=sf_dir)


ORACLE["dedup_embedding_cosine"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS d1, b.vec_id AS d2,
       floor(round(list_cosine_similarity(a.v, b.v), 8) * 10000) / 10000 AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE floor(round(list_cosine_similarity(a.v, b.v), 8) * 10000) / 10000 >= 0.3
"""


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via sign-LSH bucketing — the SCALE
    path whose exactness baseline is ``dedup_embedding_cosine``:
    instead of the all-pairs GEMM, vectors join only within their
    sign bucket (bit b = sign of component b), so the candidate set
    is a 2^B-ary hash-partitioned self-join — shuffle on the bucket
    key, never a cartesian. At 100 TB the bucket column is the
    partition key of the stored index (same layout as the IVF `cid`
    write, similarity.py): bucket joins prune to co-located
    partitions. Recall loss vs the baseline is measurable with the
    same audit pattern as ``ann_recall_eval``; precision is exact
    because candidates are re-scored with the true cosine. Pure JVM
    expressions (zip_with dot) — no Python in the pair loop.

    Bit count is ADAPTIVE (``sign_bits_for``): bucket count scales
    with the corpus so expected occupancy stays ≤ SIGN_OCCUPANCY and
    the within-bucket self-join stays LINEAR in corpus size — the
    round-6 dual-scale sweep measured the fixed-4-bit form at scaling
    exponent 1.91 (quadratic); occupancy-targeted bits are the fix."""
    from mapreduce_rust_spark.functions.vectors import cosine_from_norms, l2_norm
    from mapreduce_rust_spark.operators.similarity import (
        sign_bits_for,
        sign_bucket_adaptive,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("n_corpus"))
    v = emb.crossJoin(F.broadcast(n)).select(
        "vec_id",
        "embedding",
        sign_bucket_adaptive(
            F.col("embedding"), sign_bits_for(F.col("n_corpus"))
        ).alias("bucket"),
        l2_norm("embedding").alias("nrm"),
    )
    a = v.select(
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("v1"),
        "bucket",
        F.col("nrm").alias("n1"),
    )
    b = v.select(
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("v2"),
        "bucket",
        F.col("nrm").alias("n2"),
    )
    sim = fround(cosine_from_norms("v1", "v2", "n1", "n2"), 4)
    return (
        a.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= 0.3)
        .select("d1", "d2", "bucket", "cos_sim")
    )


def _embedding_lsh_oracle() -> str:
    from mapreduce_rust_spark.operators.similarity import (
        _sign_bits_sql,
        _sign_bucket_adaptive_sql,
    )

    bits = _sign_bits_sql("(SELECT count(*) FROM embeddings)")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {_sign_bucket_adaptive_sql("embedding", bits)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS d1, b.vec_id AS d2, a.bucket,
       floor(round(list_cosine_similarity(a.v, b.v), 8) * 10000) / 10000 AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE floor(round(list_cosine_similarity(a.v, b.v), 8) * 10000) / 10000 >= 0.3
"""


ORACLE["dedup_embedding_lsh"] = _embedding_lsh_oracle()


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every source pair, the
    number of distinct 3-shingles they share and the shingle-set
    Jaccard — the which-crawls-mirror-each-other report that decides
    whether two sources can both stay in the mix at full weight.
    Plan is the POSTING-LIST form, linear in postings: distinct
    (source, shingle) → per-shingle sorted source set (≤ |sources|,
    tiny) → in-row pair expansion → one count per pair — never a
    shingle-keyed self-join. Source set sizes broadcast for the
    Jaccard denominators. At 100 TB the only big shuffle keys on the
    shingle (high cardinality, even spread)."""
    from mapreduce_rust_spark.functions.text import word_shingles

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    srcs = F.array_sort(F.collect_set("source"))
    g = (
        sh.groupBy("s")
        .agg(srcs.alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pair_arr = F.flatten(
        F.transform(
            "srcs",
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    pairs = g.select(F.explode(pair_arr).alias("p")).select("p.src_a", "p.src_b")
    shared = pairs.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    a = sizes.select(F.col("source").alias("src_a"), F.col("n_shingles").alias("n_a"))
    b = sizes.select(F.col("source").alias("src_b"), F.col("n_shingles").alias("n_b"))
    return (
        shared.join(F.broadcast(a), "src_a")
        .join(F.broadcast(b), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            fround(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


ORACLE["dedup_cross_source_matrix"] = rf"""
WITH lists AS (
  SELECT source,
         string_split({normalize_sql('text')}, ' ') AS l
  FROM documents
),
sh AS (
  SELECT DISTINCT source, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS s
  FROM lists, unnest(generate_series(1, greatest(len(l) - 2, 0))) t(i)
),
sizes AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.n_shared,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       {fround_sql("s.n_shared::DOUBLE / (sa.n + sb.n - s.n_shared)", 6)} AS jaccard
FROM shared s
JOIN sizes sa ON sa.source = s.src_a
JOIN sizes sb ON sb.source = s.src_b
ORDER BY s.src_a, s.src_b
"""


def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text canonicalization (lowercase, strip
    punctuation/whitespace runs) — catches the trivial near-dups
    (case flips, punctuation noise, reflowed whitespace) that raw
    byte-hash dedup misses, at identical cost: one hash aggregation
    on the 16-byte digest of the normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("chash")
    )
    # full census (no >=2 filter): the synthetic corpus happens to
    # have no normalized dups, and an always-empty result would make
    # the oracle check vacuous — per-group keep_id/n_copies over all
    # 500 canonical hashes is the substantive comparison
    return canon.groupBy("chash").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


ORACLE["dedup_exact_normalized"] = f"""
SELECT md5({normalize_sql('text')}) AS chash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep histogram for dedup tuning: how many candidate
    pairs exist at each Jaccard decile, with a cumulative
    pairs-at-or-above column — the report a data engineer reads to
    pick the dedup threshold BEFORE committing a 100 TB pass. Reuses
    the memoized pair-intersection index (zero extra shingle work when
    any other exact scorer already ran); the global window for the
    cumulative sum runs over ≤10 bucket rows, never row-level data.
    Bucket edges use the shared round-then-floor so both engines bin
    borderline ratios identically."""
    from pyspark.sql import Window as W

    stats = pair_stats_index(spark, sf_dir, k=3)
    j = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    bucket = F.floor(F.round(j, 8) * 10) / 10
    hist = (
        stats.select(bucket.alias("j_bucket"))
        .groupBy("j_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    hist1, w0 = single_partition(hist, by=[F.col("j_bucket").desc()])
    w = w0.rowsBetween(W.unboundedPreceding, W.currentRow)
    return hist1.select(
        "j_bucket", "n_pairs", F.sum("n_pairs").over(w).alias("n_pairs_ge")
    ).orderBy("j_bucket")


ORACLE["dedup_threshold_curve"] = f"""
WITH sh AS ({_capped_shingle_sql(MAX_SHINGLE_DF)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
hist AS (
  SELECT floor(round(CAST(i AS DOUBLE) / (n1.n + n2.n - i), 8) * 10) / 10
           AS j_bucket,
         count(*) AS n_pairs
  FROM inter
  JOIN sizes n1 ON n1.doc_id = d1
  JOIN sizes n2 ON n2.doc_id = d2
  GROUP BY 1
)
SELECT j_bucket, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY j_bucket DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS n_pairs_ge
FROM hist
ORDER BY j_bucket
"""


LSH_PLAN_THRESHOLD = 0.5  # the dedup threshold the banding must serve


def dedup_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding PLANNER — pick (bands b, rows-per-band r) with
    b·r = {P} BEFORE the 100 TB pass, using this corpus's own
    similarity histogram instead of the textbook uniform assumption:
    for every divisor pair (b, r) of the signature length, the
    S-curve P(s) = 1 − (1 − s^r)^b is integrated against the OBSERVED
    pair-count histogram (``dedup_threshold_curve``'s buckets, shared
    memoized index) to yield the expected FALSE-POSITIVE candidate
    pairs (sub-threshold pairs that still collide → wasted verify
    work) and expected FALSE-NEGATIVE pairs (true near-dups the bands
    miss → quality loss), plus the banding's 50%-collision point
    (1/b)^(1/r). The row minimizing fp+fn (tie: lower fp) is starred —
    the defensible answer to "why 4×4?". Pairs with zero shared
    shingles have collision probability 0 under MinHash and cannot
    contribute to either mass, so the shared-shingle histogram is the
    complete integration domain.

    Scale shape: the histogram is the memoized pair-intersection
    index reduced to ≤10 bucket rows; the planner is a ≤10×|divisors|
    arithmetic cross join — free at any corpus size once any exact
    scorer has run."""
    configs = [(b, N_HASHES // b) for b in (1, 2, 4, 8, 16)]
    stats = pair_stats_index(spark, sf_dir, k=3)
    j = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    bucket = F.floor(F.round(j, 8) * 10) / 10
    hist = (
        stats.select(bucket.alias("j_bucket"))
        .groupBy("j_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    cfg = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
                for b, r in configs
            ]
        )
    ).alias("cfg")
    # Bucket midpoint, clamped to 1.0: the j=1.0 bucket (exact dups) is
    # populated, and an unclamped midpoint of 1.05 makes s^r exceed 1 so
    # P(s) = 1-(1-s^r)^b leaves [0,1] — for b=1 that minted NEGATIVE
    # expected-FN mass and flipped is_best.
    mid = F.least(F.col("j_bucket") + F.lit(0.05), F.lit(1.0))
    p_collide = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(mid, F.col("cfg.r")), F.col("cfg.b")
    )
    crossed = hist.select("j_bucket", "n_pairs", cfg).select(
        "j_bucket",
        "n_pairs",
        F.col("cfg.b").alias("b"),
        F.col("cfg.r").alias("r"),
        p_collide.alias("p"),
    )
    agg = crossed.groupBy("b", "r").agg(
        fround(
            F.sum(
                F.when(
                    F.col("j_bucket") < LSH_PLAN_THRESHOLD,
                    F.col("n_pairs") * F.col("p"),
                ).otherwise(0.0)
            ),
            4,
        ).alias("exp_fp_pairs"),
        fround(
            F.sum(
                F.when(
                    F.col("j_bucket") >= LSH_PLAN_THRESHOLD,
                    F.col("n_pairs") * (F.lit(1.0) - F.col("p")),
                ).otherwise(0.0)
            ),
            4,
        ).alias("exp_fn_pairs"),
    )
    agg1, wbest = single_partition(
        agg,
        by=[
            F.col("exp_fp_pairs") + F.col("exp_fn_pairs"),
            F.col("exp_fp_pairs"),
            F.col("b"),
        ],
    )
    return (
        agg1.select(
            "b",
            "r",
            fround(F.pow(F.lit(1.0) / F.col("b"), F.lit(1.0) / F.col("r")), 4).alias(
                "s50"
            ),
            "exp_fp_pairs",
            "exp_fn_pairs",
            fround(F.col("exp_fp_pairs") + F.col("exp_fn_pairs"), 4).alias(
                "total_cost"
            ),
            (F.row_number().over(wbest) == 1).cast("int").alias("is_best"),
        )
        .orderBy("b")
    )


dedup_lsh_band_planner.__doc__ = dedup_lsh_band_planner.__doc__.format(P=N_HASHES)


def _band_planner_oracle() -> str:
    configs = ", ".join(f"({b}, {N_HASHES // b})" for b in (1, 2, 4, 8, 16))
    return f"""
WITH sh AS ({_capped_shingle_sql(MAX_SHINGLE_DF)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
hist AS (
  SELECT floor(round(CAST(i AS DOUBLE) / (n1.n + n2.n - i), 8) * 10) / 10
           AS j_bucket,
         count(*) AS n_pairs
  FROM inter
  JOIN sizes n1 ON n1.doc_id = d1
  JOIN sizes n2 ON n2.doc_id = d2
  GROUP BY 1
),
cfg(b, r) AS (VALUES {configs}),
crossed AS (
  SELECT h.j_bucket, h.n_pairs, cfg.b, cfg.r,
         1.0 - pow(1.0 - pow(least(h.j_bucket + 0.05, 1.0), cfg.r), cfg.b) AS p
  FROM hist h CROSS JOIN cfg
),
agg AS (
  SELECT b, r,
         {fround_sql(
             "sum(CASE WHEN j_bucket < " + str(LSH_PLAN_THRESHOLD)
             + " THEN n_pairs * p ELSE 0 END)", 4)} AS exp_fp_pairs,
         {fround_sql(
             "sum(CASE WHEN j_bucket >= " + str(LSH_PLAN_THRESHOLD)
             + " THEN n_pairs * (1.0 - p) ELSE 0 END)", 4)} AS exp_fn_pairs
  FROM crossed GROUP BY 1, 2
)
SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r,
       {fround_sql("pow(1.0 / b, 1.0 / r)", 4)} AS s50,
       exp_fp_pairs, exp_fn_pairs,
       {fround_sql("exp_fp_pairs + exp_fn_pairs", 4)} AS total_cost,
       CAST(row_number() OVER (ORDER BY exp_fp_pairs + exp_fn_pairs,
                               exp_fp_pairs, b) = 1 AS INT) AS is_best
FROM agg ORDER BY b
"""


ORACLE["dedup_lsh_band_planner"] = _band_planner_oracle()


def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall evaluation of LSH candidate generation against
    (capped-)exact Jaccard truth at 0.5 — the report you produce
    BEFORE trusting the approximate path with a 100 TB dedup pass
    (where only the LSH side is affordable and truth comes from a
    sampled audit just like this). Both pair sets come from the
    memoized session indexes (zero extra shingle/signature work); the
    outer join runs over two candidate-scale pair frames, never the
    corpus. Truth uses the df-capped shingle universe (same semantics
    as ``dedup_ngram_jaccard``); candidates are banded MinHash at
    est_sim ≥ 0.5 over uncapped signatures — mirrored exactly in the
    oracle, so a banding/signature regression moves tp/fp/fn and
    fails the value hash."""
    stats = pair_stats_index(spark, sf_dir, k=3)
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    truth = stats.select("d1", "d2").filter(jac >= 0.5).withColumn("t", F.lit(1))
    cand = (
        candidate_pairs_index(spark, sf_dir, threshold=0.5, k=3)
        .select("d1", "d2")
        .withColumn("c", F.lit(1))
    )
    labeled = truth.join(cand, ["d1", "d2"], "full_outer")
    tp = F.sum((F.col("t").isNotNull() & F.col("c").isNotNull()).cast("bigint"))
    fp = F.sum((F.col("t").isNull() & F.col("c").isNotNull()).cast("bigint"))
    fn = F.sum((F.col("t").isNotNull() & F.col("c").isNull()).cast("bigint"))
    return labeled.agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn")
    ).select(
        "tp",
        "fp",
        "fn",
        fround(F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 4).alias(
            "precision"
        ),
        fround(F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 4).alias(
            "recall"
        ),
    )


ORACLE["dedup_lsh_eval"] = f"""
WITH sh AS ({_capped_shingle_sql(MAX_SHINGLE_DF)}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT d1, d2 FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
  WHERE i / (s1.n + s2.n - i) >= 0.5
),
cand AS (
  SELECT d1, d2 FROM ({_minhash_oracle()}) WHERE est_sim >= 0.5
),
labeled AS (
  SELECT coalesce(t.d1, c.d1) AS d1,
         t.d1 IS NOT NULL AS is_t, c.d1 IS NOT NULL AS is_c
  FROM truth t FULL OUTER JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
)
SELECT CAST(sum(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN NOT is_t AND is_c THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN is_t AND NOT is_c THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       {fround_sql("sum(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END)::DOUBLE / nullif(sum(CASE WHEN is_c THEN 1 ELSE 0 END), 0)", 4)} AS precision,
       {fround_sql("sum(CASE WHEN is_t AND is_c THEN 1 ELSE 0 END)::DOUBLE / nullif(sum(CASE WHEN is_t THEN 1 ELSE 0 END), 0)", 4)} AS recall
FROM labeled
"""


# --- Bloom-filter membership prefilter ------------------------------

# deliberately small filter (512 bits, 2 hashes) so sf-scale corpora
# produce a visible false-positive band for the exact verify stage to
# kill — at production scale m/k are sized for the target FP rate and
# the filter is built once per corpus shard and bit-OR-merged (the
# same mergeable-sketch property as the CMS/HLL slugs).
_BLOOM_M = 512
_BLOOM_K = 2


def _bloom_pos(col, j: int):
    """Bit position of hash ``j`` — md5-derived (:func:`hash64`) so the
    DuckDB oracle reproduces the filter bit-for-bit."""
    return F.pmod(hash64(F.concat(F.lit(f"bf{j}:"), col)), F.lit(_BLOOM_M))


def _bloom_pos_sql(expr: str, j: str) -> str:
    seeded = f"'bf' || {j} || ':' || {expr}"
    return f"({hash64_sql(seeded)} % {_BLOOM_M})"


def bloom_prefilter(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    content_col: str,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Incremental-ingest membership PREFILTER: build a Bloom filter
    over the corpus' content, probe every batch document, and verify
    only the candidates exactly. The filter is an aggregate of set bit
    positions (≤ ``_BLOOM_M`` rows — broadcast to every probe task),
    so the batch never shuffles against the corpus at all unless a
    probe hits all ``k`` bits: at 100 TB the expensive exact
    verification join runs on the candidate sliver, not the batch.
    Bloom guarantees no false negatives (asserted as a property in
    tests/test_llm_ops.py); false positives are expected and exposed
    via ``n_hit``/``is_true_dup`` so the oracle value-checks the whole
    filter construction, probe arithmetic, AND the verify outcome."""
    probe_cols = F.array(*[_bloom_pos(F.col(content_col), j) for j in range(k)])
    bits = corpus.select(F.explode(probe_cols).alias("p")).distinct()
    probes = batch.select(F.col(id_col), F.explode(probe_cols).alias("p"))
    hits = (
        probes.join(F.broadcast(bits), "p")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    corpus_hashes = (
        corpus.select(F.md5(F.col(content_col)).alias("chash"))
        .distinct()
        .withColumn("dup", F.lit(1))
    )
    probed = (
        batch.select(F.col(id_col), F.md5(F.col(content_col)).alias("chash"))
        .join(hits, id_col, "left")
        .select(
            id_col,
            "chash",
            F.coalesce("hits", F.lit(0)).alias("n_hit"),
            (F.coalesce("hits", F.lit(0)) == k).cast("int").alias("bloom_candidate"),
        )
    )
    # Exact verification runs ONLY on the candidate sliver; Bloom has
    # no false negatives, so non-candidates are duplicates-free by
    # construction and skip the corpus join entirely (is_true_dup=0).
    verified = (
        probed.filter(F.col("bloom_candidate") == 1)
        .join(F.broadcast(corpus_hashes), "chash", "left")
        .select(
            id_col,
            "n_hit",
            "bloom_candidate",
            F.coalesce("dup", F.lit(0)).alias("is_true_dup"),
        )
    )
    passed = probed.filter(F.col("bloom_candidate") != 1).select(
        id_col, "n_hit", "bloom_candidate", F.lit(0).alias("is_true_dup")
    )
    return verified.unionAll(passed)


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even-id docs stand in for the existing corpus (same split as
    ``dedup_incremental``), odd-id docs for the incoming batch."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_prefilter(corpus, batch, "doc_id", "text").orderBy("doc_id")


ORACLE["dedup_bloom_prefilter"] = f"""
WITH js AS (SELECT unnest([0, 1]) AS j),
bits AS (
  SELECT DISTINCT {_bloom_pos_sql("text", "j")} AS p
  FROM documents, js WHERE doc_id % 2 = 0
),
probes AS (
  SELECT doc_id, {_bloom_pos_sql("text", "j")} AS p
  FROM documents, js WHERE doc_id % 2 = 1
),
hits AS (
  SELECT doc_id, count(*) AS hits FROM probes JOIN bits USING (p) GROUP BY 1
)
SELECT b.doc_id,
       coalesce(h.hits, 0) AS n_hit,
       CAST(coalesce(h.hits, 0) = {_BLOOM_K} AS INT) AS bloom_candidate,
       CAST(b.text IN (SELECT text FROM documents WHERE doc_id % 2 = 0) AS INT)
         AS is_true_dup
FROM documents b LEFT JOIN hits h USING (doc_id)
WHERE b.doc_id % 2 = 1
ORDER BY doc_id
"""


def corpus_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the share of a doc's distinct
    3-shingles whose first corpus occurrence (lowest doc_id) is in
    this doc — the curation signal behind "stop ingesting this crawl
    slice, it's no longer adding new text". Unlike the pairwise
    scorers this never joins doc-to-doc: one window over the shingle
    inverted index (min doc_id per shingle) + one per-doc aggregate,
    so cost stays linear in shingle postings at any corpus size.
    Reuses the memoized shingle index."""
    return shingle_novelty(shingle_index(spark, sf_dir, k=3), "doc_id").orderBy(
        "doc_id"
    )


def shingle_novelty(sh: DataFrame, id_col: str) -> DataFrame:
    """Core of :func:`corpus_shingle_novelty` over a (id, s) shingle
    frame: one window (min id per shingle) + one per-doc aggregate."""
    w = Window.partitionBy("s")
    firsts = sh.select(id_col, F.min(id_col).over(w).alias("first_doc"))
    return (
        firsts.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col(id_col)).cast("bigint")).alias(
                "n_novel"
            ),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            (F.col("n_novel") / F.col("n_shingles")).alias("novelty"),
        )
    )


ORACLE["corpus_shingle_novelty"] = f"""
WITH sh AS ({_SHINGLE_SQL}),
firsts AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY s) AS first_doc FROM sh
)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS novelty
FROM firsts
GROUP BY 1 ORDER BY 1
"""


def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR-BIAS audit: over every LSH candidate pair,
    compare the {n}-hash signature estimate against the exact Jaccard
    it estimates — count, mean absolute error, signed bias, worst
    case, and the est↔true correlation. ``dedup_lsh_eval`` audits the
    BANDING (which pairs surface); this audits the ESTIMATE itself
    (how wrong the similarity number is), which is what any
    downstream threshold consumes — together they are the full trust
    audit of the sketch. Theory says MAE ≈ sqrt(s(1-s)/{n}); the slug
    turns that into a measured, regression-pinned artifact. Reuses
    the session-memoized signature + shingle indexes: zero new
    corpus scans, one candidate-sized aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    vp = lsh_verified_pairs(
        docs, "doc_id", "text", k=3, threshold=0.0,
        sigs=signature_index(spark, sf_dir, k=3),
        sh=shingle_index(spark, sf_dir, k=3),
    )
    err = F.col("est_sim") - F.col("jaccard")
    return vp.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        fround(F.avg(F.abs(err)), 4).alias("mae"),
        fround(F.avg(err), 4).alias("bias"),
        fround(F.max(F.abs(err)), 4).alias("worst_abs_err"),
        fround(F.corr("est_sim", "jaccard"), 4).alias("est_true_corr"),
    )


dedup_minhash_estimate_error.__doc__ = dedup_minhash_estimate_error.__doc__.format(
    n=N_HASHES
)


def _minhash_error_oracle() -> str:
    from mapreduce_rust_spark.functions.numeric import fround_sql

    return f"""
WITH cand AS (
  SELECT d1, d2, est_sim FROM ({_minhash_oracle()})
),
ds AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT c.d1, c.d2, c.est_sim, count(*) AS i
  FROM cand c
  JOIN ds a ON a.doc_id = c.d1
  JOIN ds b ON b.doc_id = c.d2 AND b.s = a.s
  GROUP BY 1, 2, 3
),
pairs AS (
  SELECT est_sim, i / (s1.n + s2.n - i) AS jaccard
  FROM inter
  JOIN sizes s1 ON s1.doc_id = d1
  JOIN sizes s2 ON s2.doc_id = d2
)
SELECT count(*) AS n_pairs,
       {fround_sql("avg(abs(est_sim - jaccard))", 4)} AS mae,
       {fround_sql("avg(est_sim - jaccard)", 4)} AS bias,
       {fround_sql("max(abs(est_sim - jaccard))", 4)} AS worst_abs_err,
       {fround_sql("corr(est_sim, jaccard)", 4)} AS est_true_corr
FROM pairs
"""


ORACLE["dedup_minhash_estimate_error"] = _minhash_error_oracle()


B_BITS = 4  # bits retained per minhash component (Li & König b-bit minwise)


def dedup_minhash_bbit_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-BIT minwise hashing audit (after Li & König): store only the
    low {b} bits of each minhash component — a {w}× signature-storage
    cut, the difference between an index that fits executor memory at
    100 TB and one that doesn't — and correct the resulting collision
    bias analytically: Ĵ_b = (match_rate − C)/(1 − C) with
    C = 2^-{b} the random-collision floor. Per LSH candidate pair,
    the full-width estimate, the corrected b-bit estimate, and their
    gap — read next to ``dedup_minhash_estimate_error`` (full-width
    vs exact) to see what the extra compression costs. Reuses the
    memoized signature index + candidate pairs: one candidate-sized
    join, 2·{n} integer comparisons per pair, no corpus scan."""
    pairs = candidate_pairs_index(spark, sf_dir, threshold=0.5, k=3).select(
        "d1", "d2"
    )
    sigs = signature_index(spark, sf_dir, k=3)
    s1 = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_HASHES)],
    )
    s2 = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_HASHES)],
    )
    mod = 1 << B_BITS
    m_full = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    )
    m_b = sum(
        F.when(F.col(f"a{j}") % mod == F.col(f"b{j}") % mod, 1).otherwise(0)
        for j in range(N_HASHES)
    )
    c = 1.0 / mod
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            fround(m_full / F.lit(float(N_HASHES)), 6).alias("est_full"),
            fround(
                (m_b / F.lit(float(N_HASHES)) - F.lit(c)) / F.lit(1.0 - c), 6
            ).alias("est_bbit"),
        )
        .withColumn(
            "gap", fround(F.abs(F.col("est_bbit") - F.col("est_full")), 6)
        )
        .orderBy("d1", "d2")
    )


dedup_minhash_bbit_eval.__doc__ = dedup_minhash_bbit_eval.__doc__.format(
    b=B_BITS, w=64 // B_BITS, n=N_HASHES
)


def _bbit_oracle() -> str:
    from mapreduce_rust_spark.functions.numeric import fround_sql

    mod = 1 << B_BITS
    c = 1.0 / mod
    est_full = f"(sum(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) / CAST({N_HASHES} AS DOUBLE))"
    est_bbit = (
        f"((sum(CASE WHEN s1.mh % {mod} = s2.mh % {mod} THEN 1 ELSE 0 END)"
        f" / CAST({N_HASHES} AS DOUBLE) - {c}) / {1.0 - c})"
    )
    return f"""
WITH cand AS (
  SELECT d1, d2 FROM ({_minhash_oracle()}) WHERE est_sim >= 0.5
),
ds AS ({_SHINGLE_SQL}),
h AS (SELECT doc_id, {hash64_sql('s')} AS h FROM ds),
params(j, a, b) AS (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_params()))}),
sig AS (
  SELECT doc_id, j,
         min((a * (h % {MINHASH_PRIME}) + b) % {MINHASH_PRIME}) AS mh
  FROM h CROSS JOIN params GROUP BY doc_id, j
),
est AS (
  SELECT c.d1, c.d2,
         {fround_sql(est_full, 6)} AS est_full,
         {fround_sql(est_bbit, 6)} AS est_bbit
  FROM cand c
  JOIN sig s1 ON s1.doc_id = c.d1
  JOIN sig s2 ON s2.doc_id = c.d2 AND s2.j = s1.j
  GROUP BY 1, 2
)
SELECT d1, d2, est_full, est_bbit,
       {fround_sql("abs(est_bbit - est_full)", 6)} AS gap
FROM est ORDER BY d1, d2
"""


ORACLE["dedup_minhash_bbit_eval"] = _bbit_oracle()


LEV_SIM_THRESHOLD = 0.6  # keep pairs with 1 − lev/maxlen ≥ this
LEV_PREFIX = 256  # verify on a fixed prefix: bounds per-pair cost at O(PREFIX²)


def dedup_levenshtein_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs: the banded-LSH
    candidates re-scored with CHARACTER-level Levenshtein similarity
    (1 − lev/max_len) — the verify step that catches what shingle
    Jaccard can't distinguish: token-order scrambles score high on
    Jaccard but low on edit distance, so this is the stricter gate
    used for title/short-text dedup. Levenshtein is O(len²) PER PAIR,
    so the cost is bounded TWICE: it only runs on the LSH candidate
    set (banding, never n²), and it compares a fixed {LEV_PREFIX}-char
    prefix — the production clamp that makes per-pair work a CONSTANT
    (the sf0.1→sf1 sweep is what forced the clamp: full-text
    verification scaled with len² and dominated the sweep). Same
    verify-after-block shape as dedup_lsh_verified; the distance
    itself is Spark's built-in JVM `levenshtein`, no Python in the
    loop. DuckDB ships the same classic definition, so scores compare
    exactly.

    Candidate set is the est_sim ≥ 0.7 index (the same set
    dedup_lsh_verified consumes — NOT the 0.5 graph-family edges: the
    sf0.1→sf1 sweep measured exponent 1.76 on the looser set, because
    a dup-heavy corpus grows its weak-candidate count super-linearly
    and each pair pays the full O(PREFIX²) distance), plus a
    length-difference prefilter: |len₁−len₂| > (1−θ)·maxlen already
    implies sim < θ, so those pairs never reach the distance at
    all."""
    pairs = candidate_pairs_index(spark, sf_dir, threshold=0.7, k=3).select(
        "d1", "d2"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, LEV_PREFIX).alias("text")
    )
    t1 = docs.select(F.col("doc_id").alias("d1"), F.col("text").alias("x1"))
    t2 = docs.select(F.col("doc_id").alias("d2"), F.col("text").alias("x2"))
    scored = (
        pairs.join(t1, "d1")
        .join(t2, "d2")
        .filter(
            F.abs(F.length("x1") - F.length("x2"))
            <= F.lit(1.0 - LEV_SIM_THRESHOLD)
            * F.greatest(F.length("x1"), F.length("x2"))
        )
        .select(
            "d1",
            "d2",
            F.levenshtein("x1", "x2").alias("lev"),
            F.greatest(F.length("x1"), F.length("x2")).alias("maxlen"),
        )
        .filter(
            F.lit(1.0) - F.col("lev") / F.col("maxlen") >= LEV_SIM_THRESHOLD
        )
        .select(
            "d1",
            "d2",
            F.col("lev").cast("bigint").alias("edit_distance"),
            fround(
                F.lit(1.0) - F.col("lev") / F.col("maxlen"), 6
            ).alias("lev_sim"),
        )
    )
    return scored.select("d1", "d2", "edit_distance", "lev_sim").orderBy(
        "d1", "d2"
    )


def _lev_verified_oracle() -> str:
    return f"""
WITH pairs AS (
  SELECT d1, d2 FROM ({_minhash_oracle()}) WHERE est_sim >= 0.7
),
clipped AS (
  SELECT p.d1, p.d2,
         substr(a.text, 1, {LEV_PREFIX}) AS x1,
         substr(b.text, 1, {LEV_PREFIX}) AS x2
  FROM pairs p
  JOIN documents a ON a.doc_id = p.d1
  JOIN documents b ON b.doc_id = p.d2
),
scored AS (
  SELECT d1, d2,
         levenshtein(x1, x2) AS lev,
         greatest(length(x1), length(x2)) AS maxlen
  FROM clipped
  WHERE abs(length(x1) - length(x2))
        <= {1.0 - LEV_SIM_THRESHOLD} * greatest(length(x1), length(x2))
)
SELECT d1, d2,
       CAST(lev AS BIGINT) AS edit_distance,
       {fround_sql("1.0 - lev / CAST(maxlen AS DOUBLE)", 6)} AS lev_sim
FROM scored
WHERE 1.0 - lev / CAST(maxlen AS DOUBLE) >= {LEV_SIM_THRESHOLD}
ORDER BY d1, d2
"""


ORACLE["dedup_levenshtein_verified"] = _lev_verified_oracle()


SN_WINDOW = 5  # sorted-neighborhood sliding-window width
SN_KEY_LEN = 24  # sort-key prefix length (normalized chars)
SN_THRESHOLD = 0.5  # verify: shingle Jaccard


ROUGE_PREFIX_TOKENS = 32  # LCS clamp: per-pair cost is a CONSTANT 32x32


def dedup_rouge_l_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L-verified near-dup pairs — the SUBSEQUENCE measure the
    eval-decontamination literature uses beside n-gram overlap:
    token-level longest-common-subsequence over the banded-LSH
    candidates (est_sim >= 0.7, the same bounded set the levenshtein
    verify consumes), F = 2PR/(P+R) with P = LCS/m, R = LCS/n.
    Catches reorderings-with-insertions that character edit distance
    over-penalizes and shingle Jaccard under-reports. Cost bounded
    twice, the ``dedup_levenshtein_verified`` discipline: candidates
    only (never n²) and a fixed {k}-token prefix, so per-pair work is
    a constant {k}x{k} DP. The DP runs in an Arrow-batched pandas UDF
    (no JVM LCS builtin; the candidate sliver is tiny relative to the
    scan) and the DuckDB oracle replays the identical DP cell-by-cell
    with the ``ts_dtw_distance`` ring-buffer recursion."""
    import pandas as pd

    pairs = candidate_pairs_index(spark, sf_dir, threshold=0.7, k=3).select(
        "d1", "d2"
    )
    toks = F.slice(
        tokenize_whitespace(normalize_text(F.col("text"))),
        1,
        ROUGE_PREFIX_TOKENS,
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("tok")
    )

    # module-wide `from __future__ import annotations` stringifies
    # hints, which pandas_udf can't introspect — set them explicitly
    def _lcs_batch(a, b):
        out = []
        for xs, ys in zip(a, b):
            xs, ys = list(xs), list(ys)
            m = len(ys)
            row = [0] * (m + 1)
            for x in xs:
                prev_diag = 0
                for j in range(1, m + 1):
                    cur = row[j]
                    row[j] = (
                        prev_diag + 1
                        if x == ys[j - 1]
                        else max(row[j], row[j - 1])
                    )
                    prev_diag = cur
            out.append(row[m])
        return pd.Series(out)

    _lcs_batch.__annotations__ = {
        "a": pd.Series, "b": pd.Series, "return": pd.Series
    }
    lcs_udf = F.pandas_udf(_lcs_batch, "int")

    t1 = docs.select(F.col("doc_id").alias("d1"), F.col("tok").alias("a1"))
    t2 = docs.select(F.col("doc_id").alias("d2"), F.col("tok").alias("a2"))
    scored = (
        pairs.join(t1, "d1")
        .join(t2, "d2")
        .select(
            "d1",
            "d2",
            F.size("a1").alias("n1"),
            F.size("a2").alias("n2"),
            lcs_udf("a1", "a2").alias("lcs"),
        )
    )
    f = (2.0 * F.col("lcs") * F.col("lcs")) / (
        F.col("n1").cast("double") * F.col("lcs")
        + F.col("n2").cast("double") * F.col("lcs")
    )
    # 2PR/(P+R) with P=lcs/n2, R=lcs/n1 simplifies to 2*lcs/(n1+n2);
    # spelled that way to avoid 0/0 when lcs = 0
    f = 2.0 * F.col("lcs") / (F.col("n1") + F.col("n2")).cast("double")
    return scored.select(
        "d1",
        "d2",
        F.col("lcs").cast("bigint").alias("lcs_len"),
        fround(f, 6).alias("rouge_l_f"),
    ).orderBy("d1", "d2")


dedup_rouge_l_verified.__doc__ = dedup_rouge_l_verified.__doc__.format(
    k=ROUGE_PREFIX_TOKENS
)


def _rouge_oracle() -> str:
    return f"""
WITH RECURSIVE cand AS MATERIALIZED (
  SELECT d1, d2 FROM ({_minhash_oracle()}) WHERE est_sim >= 0.7
),
tok AS MATERIALIZED (
  SELECT doc_id,
         list_filter(string_split({normalize_sql('text')}, ' '),
             x -> x <> '')[1:{ROUGE_PREFIX_TOKENS}] AS tok
  FROM documents
),
sized AS MATERIALIZED (
  SELECT c.d1, c.d2, a.tok AS ta, b.tok AS tb,
         len(a.tok) AS n, len(b.tok) AS m
  FROM cand c JOIN tok a ON a.doc_id = c.d1 JOIN tok b ON b.doc_id = c.d2
),
eq AS MATERIALIZED (
  SELECT s.d1, s.d2, i.i, j.j,
         (s.ta[i.i] = s.tb[j.j]) AS same
  FROM sized s,
       unnest(generate_series(1, s.n)) AS i(i),
       unnest(generate_series(1, s.m)) AS j(j)
),
row1 AS (
  SELECT e.d1, e.d2, e.j,
         max(CASE WHEN e2.same THEN 1 ELSE 0 END) AS dp
  FROM eq e JOIN eq e2
    ON e2.d1 = e.d1 AND e2.d2 = e.d2 AND e2.i = 1 AND e2.j <= e.j
  WHERE e.i = 1
  GROUP BY e.d1, e.d2, e.j
),
seed AS (
  SELECT s.d1, s.d2, s.n, s.m, s.m AS c,
         [0] || list(r.dp ORDER BY r.j) AS ring
  FROM sized s JOIN row1 r ON r.d1 = s.d1 AND r.d2 = s.d2
  GROUP BY s.d1, s.d2, s.n, s.m
),
dp AS (
  SELECT d1, d2, n, m, c, ring FROM seed
  UNION ALL
  SELECT dp.d1, dp.d2, dp.n, dp.m, dp.c + 1,
         dp.ring[2:] || [
           CASE WHEN k.same THEN
             CASE WHEN (dp.c % dp.m) + 1 = 1 THEN 0 ELSE dp.ring[1] END + 1
           ELSE greatest(
             dp.ring[2],
             CASE WHEN (dp.c % dp.m) + 1 = 1 THEN 0 ELSE dp.ring[dp.m + 1] END
           ) END
         ]
  FROM dp
  JOIN eq k
    ON k.d1 = dp.d1 AND k.d2 = dp.d2
   AND k.i = (dp.c // dp.m) + 1
   AND k.j = (dp.c % dp.m) + 1
  WHERE dp.c < dp.n * dp.m
),
fin AS (
  SELECT d1, d2, n, m, ring[m + 1] AS lcs
  FROM dp WHERE c = n * m
)
SELECT d1, d2, CAST(lcs AS BIGINT) AS lcs_len,
       {fround_sql("2.0 * lcs / (n + m)", 6)} AS rouge_l_f
FROM fin ORDER BY d1, d2
"""


ORACLE["dedup_rouge_l_verified"] = _rouge_oracle()


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    OTHER classic candidate generator next to LSH banding: sort
    records by a normalized key prefix, pair each record with its
    next {SN_WINDOW} neighbors, verify with shingle Jaccard. Catches
    near-dups whose shared prefix survives normalization even when
    banding happens to split them — production dedup runs BOTH and
    unions the edges. Scale shape: the sort is a WINDOW PARTITIONED
    BY SOURCE (each source sorts independently — no global range
    exchange; at 100 TB the partition key generalizes to any
    bounded-cardinality split), the window join is an EQUI-join on
    (source, rn+offset) via a {SN_WINDOW}-element explode, and the
    verify touches only the ≤ {SN_WINDOW}·n candidate pairs. Ref
    parity anchor: reference shuffles on a modulo key
    (worker.rs:151); this is the same partition-then-local-work shape
    with an ordered neighborhood instead of a hash bucket."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    base = docs.select(
        "doc_id",
        "source",
        F.substring(norm, 1, SN_KEY_LEN).alias("sk"),
    )
    w = Window.partitionBy("source").orderBy("sk", "doc_id")
    ranked = base.select("doc_id", "source", F.row_number().over(w).alias("rn"))
    left = ranked.select(
        F.col("source").alias("src1"),
        F.col("doc_id").alias("d1"),
        F.col("rn").alias("rn1"),
    ).withColumn("off", F.explode(F.sequence(F.lit(1), F.lit(SN_WINDOW))))
    right = ranked.select(
        F.col("source").alias("src2"),
        F.col("doc_id").alias("d2"),
        F.col("rn").alias("rn2"),
    )
    cand = left.join(
        right,
        (F.col("src1") == F.col("src2"))
        & (F.col("rn2") == F.col("rn1") + F.col("off")),
    ).select("d1", "d2", F.col("off").cast("bigint").alias("window_dist"))
    sh = shingle_index(spark, sf_dir, k=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # second shingle side joins on BOTH (d2, s) explicitly — the
    # shared-shingle equality is part of the hash-join key by
    # construction, not a post-join filter Catalyst must pull up
    # (matches the oracle's equi-join ON b.s = a.s)
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("d1"), "s"), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"), "s"), ["d2", "s"])
        .groupBy("d1", "d2", "window_dist")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .filter(jac >= SN_THRESHOLD)
        .select(
            "d1",
            "d2",
            "window_dist",
            fround(jac, 6).alias("jaccard"),
        )
        .orderBy("d1", "d2")
    )


def _sorted_neighborhood_oracle() -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr({normalize_sql('text')}, 1, {SN_KEY_LEN}), doc_id
         ) AS rn
  FROM documents
),
cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, b.rn - a.rn AS window_dist
  FROM ranked a JOIN ranked b
    ON b.source = a.source
   AND b.rn > a.rn AND b.rn <= a.rn + {SN_WINDOW}
),
ds AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
inter AS (
  SELECT c.d1, c.d2, c.window_dist, count(*) AS i
  FROM cand c
  JOIN ds a ON a.doc_id = c.d1
  JOIN ds b ON b.doc_id = c.d2 AND b.s = a.s
  GROUP BY 1, 2, 3
)
SELECT i.d1, i.d2, CAST(i.window_dist AS BIGINT) AS window_dist,
       {fround_sql("i.i / CAST(s1.n + s2.n - i.i AS DOUBLE)", 6)} AS jaccard
FROM inter i
JOIN sizes s1 ON s1.doc_id = i.d1
JOIN sizes s2 ON s2.doc_id = i.d2
WHERE i.i / CAST(s1.n + s2.n - i.i AS DOUBLE) >= {SN_THRESHOLD}
ORDER BY i.d1, i.d2
"""


ORACLE["dedup_sorted_neighborhood"] = _sorted_neighborhood_oracle()


RUN_SPAN_K = 8  # anchor span width (tokens) — same grain as dedup_span_exact
RUN_MIN_DOCS = 2  # an anchor is "duplicated" when seen in >= this many docs


def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length exact substring duplication census — the
    distributed approximation of the Lee et al. 2022 suffix-array
    dedup ("Deduplicating Training Data Makes Language Models
    Better"). ``dedup_span_exact`` censuses FIXED 8-token spans; the
    training-data failure mode is LONG duplicated passages at
    arbitrary boundaries. Here every position's {k}-token anchor span
    is flagged if it occurs in >= {m} distinct documents, then
    consecutive flagged positions chain (gaps-and-islands) into
    maximal duplicated runs: an isolated duplicated substring of
    token length L >= {k} produces exactly L-{k}+1 consecutive
    flagged anchors, so run_len = (max_pos - min_pos) + {k}
    reconstructs L exactly; overlapping duplications from DIFFERENT
    sources merge into one run (an upper-bound census — the standard
    distributed relaxation of the exact suffix-array method). Output:
    run census by power-of-two length bucket (n_runs, docs touched,
    duplicated-token mass) — the table that says "this corpus carries
    N tokens of >=64-token boilerplate".

    Scale shape: one explode to |tokens| anchor rows; the duplicated-
    anchor set is a partial-aggregating groupBy on a 16-byte md5 key
    (NOT a count-distinct window over the hash — a boilerplate span
    present in 1e9 documents would pile one partition at 100 TB; the
    groupBy combines map-side); the flag join back is a linear
    sort-merge on the same key; run assembly is a per-document window
    (bounded by document length) and the bucket rollup is tiny.
    Power-of-two bucketing is integer-exact in both engines (binary
    digit count, not float log2 — log2(16) can evaluate to
    3.9999999999999996 and floor across the boundary)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return substring_run_census(docs, "doc_id", "text")


def substring_run_census(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Library form of ``dedup_substring_runs`` (plan documented
    there); exposed separately so the run-length reconstruction can
    be golden-tested on constructed documents."""
    anch = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(text_col, RUN_SPAN_K)).alias("pos0", "span"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.md5("span").alias("h"),
    )
    dup = (
        anch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= RUN_MIN_DOCS)
        .select("h")
    )
    flagged = anch.join(dup, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        flagged.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            (F.max("pos") - F.min("pos") + F.lit(RUN_SPAN_K)).alias("run_len")
        )
    )
    bits = F.length(F.conv(F.col("run_len").cast("string"), 10, 2))
    bucket = F.pow(F.lit(2.0), (bits - F.lit(1)).cast("double")).cast("bigint")
    return (
        runs.groupBy(bucket.alias("run_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("run_len").cast("bigint").alias("dup_tokens"),
        )
        .orderBy("run_bucket")
    )


dedup_substring_runs.__doc__ = dedup_substring_runs.__doc__.format(
    k=RUN_SPAN_K, m=RUN_MIN_DOCS
)


def _substring_runs_oracle() -> str:
    leads = " || ' ' || ".join(
        f"lead(w,{i}) OVER win" for i in range(1, RUN_SPAN_K)
    )
    return f"""
WITH tok AS ({_TOK_SQL}),
spans AS (
  SELECT doc_id, pos, md5(w || ' ' || {leads}) AS h
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
anch AS (SELECT doc_id, pos, h FROM spans WHERE h IS NOT NULL),
dup AS (
  SELECT h FROM anch GROUP BY h
  HAVING count(DISTINCT doc_id) >= {RUN_MIN_DOCS}
),
fl AS (SELECT a.doc_id, a.pos FROM anch a JOIN dup USING (h)),
grpd AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM fl
),
runs AS (
  SELECT doc_id, max(pos) - min(pos) + {RUN_SPAN_K} AS run_len
  FROM grpd GROUP BY doc_id, grp
)
SELECT CAST(power(2, length(to_base(run_len, 2)) - 1) AS BIGINT) AS run_bucket,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(run_len) AS BIGINT) AS dup_tokens
FROM runs GROUP BY 1 ORDER BY 1
"""


ORACLE["dedup_substring_runs"] = _substring_runs_oracle()


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL — the transformation step after the
    ``dedup_substring_runs`` census: rewrite every document with its
    duplicated spans EXCISED under Lee et al. 2022 keep-one semantics
    (the globally FIRST occurrence of each duplicated {k}-token anchor
    — min doc_id, then min position within it — keeps its span; every
    other occurrence is removed). The first operator in the family
    whose OUTPUT is a transformed corpus, not a report: (doc_id,
    n_tokens, n_tokens_removed, cleaned_text) over the normalized
    token stream the dedup family works in — the missing link between
    the dedup census and ``pipeline_prepare_corpus``.

    Semantics: an anchor is duplicated when its {k}-token span occurs
    in >= {m} distinct docs (the census predicate). A token is removed
    iff it is covered by ANY removed anchor occurrence ([pos, pos+{k}-1]
    coverage union — overlapping removals merge naturally). The
    survivor occurrence keeps ALL its tokens, so every duplicated span
    survives exactly once corpus-wide.

    Scale shape at 100 TB: anchor hashing is one explode fused into
    the scan; the duplicated-anchor set is a partial-aggregating
    groupBy on the 16-byte hash; survivor selection is two more
    partial aggs on the same key (min doc, then min pos within it —
    never a partition-by-hash window, which a 1e9-occurrence
    boilerplate span would pile onto one partition); coverage is a
    bounded {k}× explode of REMOVED anchors only, deduplicated by
    (doc, pos); the rewrite is a linear anti-join on (doc, pos) plus
    one per-document aggregation (collect bounded by document
    length). No data-sized windows, no global sorts before the final
    presentation order."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return duplicate_span_removal(docs, "doc_id", "text")


dedup_span_removal.__doc__ = dedup_span_removal.__doc__.format(
    k=RUN_SPAN_K, m=RUN_MIN_DOCS
)


def duplicate_span_removal(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Library form of ``dedup_span_removal`` (plan documented there);
    exposed separately so keep-one excision can be golden-tested on
    constructed near-duplicate documents."""
    norm_toks = tokenize_whitespace(normalize_text(text_col))
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(norm_toks).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    anch = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(text_col, RUN_SPAN_K)).alias("pos0", "span"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("span").alias("h")
    )
    dup = (
        anch.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= RUN_MIN_DOCS)
        .select("h")
    )
    danch = anch.join(dup, "h")
    kd = danch.groupBy("h").agg(F.min("doc_id").alias("kd"))
    kp = (
        danch.join(kd, "h")
        .filter(F.col("doc_id") == F.col("kd"))
        .groupBy("h", "kd")
        .agg(F.min("pos").alias("kp"))
    )
    removed = (
        danch.join(kp, "h")
        .filter(~((F.col("doc_id") == F.col("kd")) & (F.col("pos") == F.col("kp"))))
        .select("doc_id", "pos")
    )
    cov = removed.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(RUN_SPAN_K - 1))
        ).alias("pos"),
    ).distinct()
    kept = toks.join(cov, ["doc_id", "pos"], "left_anti")
    tot = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    ka = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        tot.join(ka, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_tokens_removed"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


def _span_removal_oracle() -> str:
    leads = " || ' ' || ".join(
        f"lead(w,{i}) OVER win" for i in range(1, RUN_SPAN_K)
    )
    return f"""
WITH tok AS ({_TOK_SQL}),
spans AS (
  SELECT doc_id, pos, md5(w || ' ' || {leads}) AS h
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
anch AS (SELECT doc_id, pos, h FROM spans WHERE h IS NOT NULL),
dup AS (
  SELECT h FROM anch GROUP BY h
  HAVING count(DISTINCT doc_id) >= {RUN_MIN_DOCS}
),
danch AS (SELECT a.doc_id, a.pos, a.h FROM anch a JOIN dup USING (h)),
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
         string_agg(w, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY 1
)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(t.n_tokens - coalesce(ka.n_kept, 0) AS BIGINT)
         AS n_tokens_removed,
       coalesce(ka.cleaned_text, '') AS cleaned_text
FROM tot t LEFT JOIN ka USING (doc_id)
ORDER BY doc_id
"""


ORACLE["dedup_span_removal"] = _span_removal_oracle()


QUERIES = {
    "dedup_lsh_band_planner": dedup_lsh_band_planner,
    "dedup_span_removal": dedup_span_removal,
    "dedup_substring_runs": dedup_substring_runs,
    "dedup_lsh_incremental": dedup_lsh_incremental,
    "dedup_rouge_l_verified": dedup_rouge_l_verified,
    "dedup_levenshtein_verified": dedup_levenshtein_verified,
    "dedup_sorted_neighborhood": dedup_sorted_neighborhood,
    "dedup_exact": dedup_exact,
    "dedup_minhash_estimate_error": dedup_minhash_estimate_error,
    "dedup_minhash_bbit_eval": dedup_minhash_bbit_eval,
    "dedup_threshold_curve": dedup_threshold_curve,
    "dedup_lsh_eval": dedup_lsh_eval,
    "dedup_incremental": dedup_incremental,
    "dedup_bloom_prefilter": dedup_bloom_prefilter,
    "corpus_shingle_novelty": corpus_shingle_novelty,
    "dedup_containment": dedup_containment,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_lsh_star": dedup_lsh_star,
    "dedup_lsh_verified": dedup_lsh_verified,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_cross_source_matrix": dedup_cross_source_matrix,
    "dedup_span_exact": dedup_span_exact,
    "dedup_exact_normalized": dedup_exact_normalized,
}
