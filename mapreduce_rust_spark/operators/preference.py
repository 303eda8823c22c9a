"""Preference / pairwise-ranking operators — the reward-model data
prep step of an LLM training pipeline: synthesize deterministic
pairwise "duels" between documents, fit global item strengths from
the comparisons (Bradley–Terry via unrolled MM iterations, Rank
Centrality via unrolled power iterations, batched Elo epochs), and
audit the judges themselves (position bias, inter-rater agreement).

The reference (a 929-line MapReduce lab, ``mr_app/src/client.rs:3-21``)
has no ranking surface; this family is engine-extension surface
(SURVEY.md §2c) grounded in public literature: Bradley & Terry 1952 /
Hunter 2004 (MM algorithm), Negahban, Oh & Shah 2012 (Rank
Centrality), Elo 1978, Fleiss 1971, Cohen 1960. The duel synthesis is
fully deterministic (md5-derived pairing, judge noise, and position
assignment) so every slug is value-oracled against DuckDB.

Scale notes:

* **Duel synthesis** — pairing happens WITHIN hash blocks: each doc
  gets one 60-bit md5 key; consecutive ranks inside a block duel at
  offsets 1..PREF_OFFSETS. Duel count is exactly ≤ OFFSETS duels per
  doc × PREF_RATERS judgments — linear in the corpus, never
  all-pairs. The rank window sorts per block, so PREF_BLOCKS is the
  parallelism knob: production sets it ~16× cluster cores (like
  ``spark.sql.shuffle.partitions``); the value here is sized for the
  test SFs. The block/rank self-join is a two-column equi-join
  (block, rank) — high cardinality, even spread.
* **Strength fits** — every iteration is the PageRank shape: a
  shuffle join of the aggregated PAIR table (one row per (i, j),
  ~OFFSETS rows per doc) against the current strength frame keyed by
  item id, then one item-keyed aggregation. The strength frame is
  per-item and therefore deliberately NOT broadcast — at 100 TB it is
  corpus-sized; Spark plans a sort-merge join on the item key, which
  is the correct distributed plan. Only genuine scalars (item count,
  normalization total, max degree) cross-join as broadcast 1-row
  frames. Iterates are normalized to mean 1 so the fixed-point
  rounding (``fround``) keeps full resolution at any corpus size.
* **Judge audits** — position bias is one duel-keyed aggregation to
  PREF_RATERS rows; the agreement matrix joins the per-rater verdict
  table to itself on the duel id (equi, high cardinality) and
  aggregates to R(R-1)/2 rows. Both are single-shuffle linear passes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.indexes import session_index
from mapreduce_rust_spark.sources.tables import fan_out, load_table

ORACLE: dict[str, str] = {}

# --- duel synthesis policy -------------------------------------------------
PREF_BLOCKS = 64        # pairing blocks; parallelism knob (see module doc)
PREF_OFFSETS = 2        # duels per doc: rank r vs r+1 .. r+PREF_OFFSETS
PREF_RATERS = 5         # simulated judges 0..4, each judges every duel
PREF_NOISE = 0.15       # judge noise half-range added to the quality margin
PREF_POS_BONUS = 0.08   # the planted bias: rater 0 favors the first-shown doc
PREF_BIASED_RATER = 0   # which judge carries the planted position bias
# --- fit policy ------------------------------------------------------------
PREF_BT_ITERS = 4       # unrolled Bradley-Terry MM iterations
PREF_BT_FLOOR = 1e-6    # strength floor: guards the MM denominator
PREF_RC_ITERS = 5       # unrolled Rank Centrality power iterations
PREF_ELO_EPOCHS = 3     # unrolled batched Elo epochs
PREF_ELO_K = 32.0       # Elo K-factor (standard club value)
PREF_ELO_INIT = 1500.0  # Elo initial rating
PREF_ELO_SCALE = 400.0  # Elo logistic scale
PREF_BIAS_Z = 2.58      # |z| threshold flagging a position-biased judge (1%)
PREF_CI_Z = 1.96        # normal z for the 95% strength confidence interval
PREF_TOPK = 25          # leaderboard size emitted by the fit slugs


def _h64(col: Column) -> Column:
    """60-bit non-negative hash, bit-identical to the DuckDB twin
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _duel_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic duel table: one row per (doc pair, rater)
    with the judged outcome. Quality scores are the latent strengths;
    each rater sees the true margin plus hash-derived noise, and the
    planted biased rater additionally favors the first-shown doc."""
    from mapreduce_rust_spark.operators.text_analysis import quality_scores

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    q = quality_scores(docs, "doc_id", "text").select("doc_id", "quality_score")
    hk = _h64(F.concat(F.lit("prefh="), F.col("doc_id").cast("string")))
    ranked = (
        q.select(
            "doc_id",
            F.col("quality_score").alias("s"),
            hk.alias("hkey"),
            (hk % PREF_BLOCKS).alias("block"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("block").orderBy("hkey", "doc_id")),
        )
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"), "block", "rn"
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("s_b"),
        F.col("block").alias("block_b"),
        F.col("rn").alias("rn_b"),
    )
    pairs = None
    for off in range(1, PREF_OFFSETS + 1):
        p = a.join(
            b,
            (F.col("block") == F.col("block_b"))
            & (F.col("rn_b") == F.col("rn") + off),
        ).select("doc_a", "doc_b", "s_a", "s_b", "block", "rn", F.lit(off).alias("off"))
        pairs = p if pairs is None else pairs.unionByName(p)
    did = F.concat_ws(
        "-",
        F.col("block").cast("string"),
        F.col("rn").cast("string"),
        F.col("off").cast("string"),
    )
    duels = (
        pairs.select("doc_a", "doc_b", "s_a", "s_b", did.alias("did"))
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(PREF_RATERS - 1))).alias("rater_i"),
        )
        .withColumn("rater", F.col("rater_i").cast("bigint"))
        .drop("rater_i")
    )
    key = F.concat(F.col("did"), F.lit("#"), F.col("rater").cast("string"))
    first_is_a = (_h64(F.concat(F.lit("pos:"), key)) % 2) == 0
    noise = (
        (_h64(F.concat(F.lit("nz:"), key)) % 2001 - F.lit(1000)) / F.lit(1000.0)
    ) * F.lit(PREF_NOISE)
    bias = F.when(
        F.col("rater") == PREF_BIASED_RATER,
        F.when(first_is_a, F.lit(PREF_POS_BONUS)).otherwise(F.lit(-PREF_POS_BONUS)),
    ).otherwise(F.lit(0.0))
    margin = fround(((F.col("s_a") - F.col("s_b")) + noise) + bias, 6)
    return duels.select(
        "doc_a",
        "doc_b",
        "s_a",
        "s_b",
        "did",
        "rater",
        first_is_a.alias("first_is_a"),
        (margin >= 0).alias("a_wins"),
    )


def duel_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the duel table — every slug in the family
    describes the SAME synthesized comparisons by construction."""
    return session_index(
        spark, sf_dir, f"pref-duels-b{PREF_BLOCKS}-o{PREF_OFFSETS}-r{PREF_RATERS}",
        lambda: _duel_base(spark, sf_dir),
    )


def pair_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the aggregated pair table: one row per ORDERED
    pair (i, j) with duel count ``n_ij`` and i's win count ``w_ij`` —
    the shared input of every strength fit. ~2×OFFSETS rows per doc."""

    def build() -> DataFrame:
        duels = duel_index(spark, sf_dir)
        win = F.col("a_wins").cast("int")
        persp = duels.select(
            F.col("doc_a").alias("i"), F.col("doc_b").alias("j"), win.alias("win")
        ).unionByName(
            duels.select(
                F.col("doc_b").alias("i"),
                F.col("doc_a").alias("j"),
                (1 - win).alias("win"),
            )
        )
        return persp.groupBy("i", "j").agg(
            F.count(F.lit(1)).alias("n_ij"), F.sum("win").alias("w_ij")
        )

    return session_index(
        spark, sf_dir, f"pref-pairs-b{PREF_BLOCKS}-o{PREF_OFFSETS}-r{PREF_RATERS}",
        build,
    )


def _item_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_duels, n_wins) per item, from the pair table."""
    return (
        pair_index(spark, sf_dir)
        .groupBy(F.col("i").alias("doc_id"))
        .agg(F.sum("n_ij").alias("n_duels"), F.sum("w_ij").alias("n_wins"))
    )


def _bt_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unrolled Bradley–Terry MM loop (Hunter 2004): π_i ← W_i /
    Σ_j n_ij/(π_i + π_j), renormalized to mean 1 each round. Each
    round is one pair-table join against the strength frame
    (item-keyed shuffle join — per-item state is NOT broadcast) plus
    two scalar aggregates; lazy localCheckpoints truncate lineage."""
    pstat = pair_index(spark, sf_dir)
    items = _item_stats(spark, sf_dir).localCheckpoint(eager=False)
    nit = items.agg(F.count(F.lit(1)).alias("n"))
    pi = items.select("doc_id", F.lit(1.0).alias("pi")).localCheckpoint(eager=False)
    for _ in range(PREF_BT_ITERS):
        pii = pi.select(F.col("doc_id").alias("i"), F.col("pi").alias("pi_i"))
        pij = pi.select(F.col("doc_id").alias("j"), F.col("pi").alias("pi_j"))
        raw = (
            pstat.join(pii, "i")
            .join(pij, "j")
            .groupBy("i")
            .agg(F.sum(F.col("n_ij") / (F.col("pi_i") + F.col("pi_j"))).alias("den"))
            .join(items, F.col("i") == F.col("doc_id"))
            .select("doc_id", (F.col("n_wins") / F.col("den")).alias("raw"))
        )
        tot = raw.agg(F.sum("raw").alias("tot"))
        pi = (
            raw.crossJoin(F.broadcast(nit))
            .crossJoin(F.broadcast(tot))
            .select(
                "doc_id",
                F.greatest(
                    fround(F.col("raw") * F.col("n") / F.col("tot"), 6),
                    F.lit(PREF_BT_FLOOR),
                ).alias("pi"),
            )
            .localCheckpoint(eager=False)
        )
    return pi


def bt_strengths_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session index of the fitted BT strength frame — the
    leaderboard, confidence, and duel-planner slugs describe the SAME
    fit by construction."""
    return session_index(
        spark, sf_dir, f"pref-bt-i{PREF_BT_ITERS}",
        lambda: _bt_fit(spark, sf_dir),
    )


def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry strengths (see :func:`_bt_fit`): the global
    top-PREF_TOPK leaderboard from the memoized fit."""
    pi = bt_strengths_index(spark, sf_dir)
    items = _item_stats(spark, sf_dir)
    return (
        pi.join(items, "doc_id")
        .select("doc_id", F.col("pi").alias("strength"), "n_duels", "n_wins")
        .orderBy(F.col("strength").desc(), "doc_id")
        .limit(PREF_TOPK)
    )


def pref_bt_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item uncertainty of the fitted strengths: the observed
    Fisher information of the log-strength under Bradley–Terry is
    I_i = Σ_j n_ij·p_ij·p_ji at the fitted probabilities, so
    se(log π_i) = 1/√I_i and the 95 % CI is π_i·exp(±z·se). The
    report that says WHICH leaderboard positions are statistically
    meaningful before a reward model trusts them. One pair-table join
    against the memoized fit + one item-keyed aggregate."""
    pi = bt_strengths_index(spark, sf_dir)
    pstat = pair_index(spark, sf_dir)
    pii = pi.select(F.col("doc_id").alias("i"), F.col("pi").alias("pi_i"))
    pij = pi.select(F.col("doc_id").alias("j"), F.col("pi").alias("pi_j"))
    p_win = F.col("pi_i") / (F.col("pi_i") + F.col("pi_j"))
    info = (
        pstat.join(pii, "i")
        .join(pij, "j")
        .groupBy(F.col("i").alias("doc_id"))
        .agg(F.sum(F.col("n_ij") * p_win * (F.lit(1.0) - p_win)).alias("info"))
    )
    items = _item_stats(spark, sf_dir)
    se = F.lit(1.0) / F.sqrt(F.col("info"))
    return (
        pi.join(info, "doc_id")
        .join(items, "doc_id")
        .select(
            "doc_id",
            F.col("pi").alias("strength"),
            fround(se, 6).alias("se_log"),
            fround(F.col("pi") * F.exp(-F.lit(PREF_CI_Z) * se), 6).alias("ci_lo"),
            fround(F.col("pi") * F.exp(F.lit(PREF_CI_Z) * se), 6).alias("ci_hi"),
            "n_duels",
        )
        .orderBy(F.col("strength").desc(), "doc_id")
        .limit(PREF_TOPK)
    )


def pref_duel_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-sampling planner: which comparisons to buy next. For
    every observed pair the expected information of ONE more duel is
    the Bernoulli variance p·(1−p) at the fitted strengths, discounted
    by the evidence already collected — score = p·(1−p)/(n_ij+1).
    High-variance, under-sampled pairs rank first; confidently decided
    or already-saturated pairs rank last. This is the labeling-budget
    allocator of a preference pipeline: at 100 TB the pair table is
    the only corpus-sized input and the planner is one join + one
    projection over it."""
    pi = bt_strengths_index(spark, sf_dir)
    pstat = pair_index(spark, sf_dir).filter(F.col("i") < F.col("j"))
    pii = pi.select(F.col("doc_id").alias("i"), F.col("pi").alias("pi_i"))
    pij = pi.select(F.col("doc_id").alias("j"), F.col("pi").alias("pi_j"))
    p_win = F.col("pi_i") / (F.col("pi_i") + F.col("pi_j"))
    score = p_win * (F.lit(1.0) - p_win) / (F.col("n_ij") + F.lit(1))
    return (
        pstat.join(pii, "i")
        .join(pij, "j")
        .select(
            "i",
            "j",
            F.col("n_ij").alias("n_duels"),
            fround(p_win, 4).alias("p_win_i"),
            fround(score, 6).alias("gain_score"),
        )
        .orderBy(F.col("gain_score").desc(), "i", "j")
        .limit(PREF_TOPK)
    )


def pref_rank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank Centrality (Negahban–Oh–Shah 2012): the stationary
    distribution of the random walk that moves from item i to j with
    probability (j's win share over i)/d_max. PREF_RC_ITERS unrolled
    power iterations on the mean-1-scaled iterate (scale-invariant, so
    fixed-point rounding holds resolution at any corpus size). Same
    join shape as PageRank: transition table × rating frame per round."""
    pstat = pair_index(spark, sf_dir)
    trans = pstat.select(
        "i",
        "j",
        ((F.col("n_ij") - F.col("w_ij")).cast("double") / F.col("n_ij")).alias("a"),
    ).localCheckpoint(eager=False)
    outm = trans.groupBy("i").agg(F.sum("a").alias("outa"))
    dmax = (
        trans.groupBy("i")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.max("cnt").alias("dmax"))
    )
    items = _item_stats(spark, sf_dir).localCheckpoint(eager=False)
    r = items.select("doc_id", F.lit(1.0).alias("r")).localCheckpoint(eager=False)
    for _ in range(PREF_RC_ITERS):
        flow = (
            trans.join(r, F.col("i") == F.col("doc_id"))
            .select(F.col("j"), (F.col("r") * F.col("a")).alias("f"))
            .groupBy("j")
            .agg(F.sum("f").alias("flow"))
        )
        r = (
            r.join(outm, F.col("doc_id") == F.col("i"))
            .join(flow, F.col("doc_id") == F.col("j"), "left")
            .crossJoin(F.broadcast(dmax))
            .select(
                "doc_id",
                fround(
                    F.coalesce(F.col("flow"), F.lit(0.0)) / F.col("dmax")
                    + F.col("r") * (F.lit(1.0) - F.col("outa") / F.col("dmax")),
                    6,
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        r.join(items, "doc_id")
        .select("doc_id", F.col("r").alias("score"), "n_duels", "n_wins")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(PREF_TOPK)
    )


def pref_elo_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched Elo: PREF_ELO_EPOCHS unrolled epochs of simultaneous
    updates r_i ← r_i + K·Σ_j (w_ij − n_ij·E_ij) with the standard
    logistic expectation E_ij = 1/(1+10^((r_j−r_i)/400)). Expectations
    within an epoch depend only on epoch-start ratings, so each epoch
    aggregates at the PAIR level — one join + one item-keyed agg."""
    pstat = pair_index(spark, sf_dir)
    items = _item_stats(spark, sf_dir).localCheckpoint(eager=False)
    r = items.select("doc_id", F.lit(PREF_ELO_INIT).alias("r")).localCheckpoint(
        eager=False
    )
    for _ in range(PREF_ELO_EPOCHS):
        ri = r.select(F.col("doc_id").alias("i"), F.col("r").alias("r_i"))
        rj = r.select(F.col("doc_id").alias("j"), F.col("r").alias("r_j"))
        e = F.lit(1.0) / (
            F.lit(1.0)
            + F.pow(F.lit(10.0), (F.col("r_j") - F.col("r_i")) / F.lit(PREF_ELO_SCALE))
        )
        delta = (
            pstat.join(ri, "i")
            .join(rj, "j")
            .select(
                F.col("i"),
                (F.lit(PREF_ELO_K) * (F.col("w_ij") - F.col("n_ij") * e)).alias("d"),
            )
            .groupBy("i")
            .agg(F.sum("d").alias("delta"))
        )
        r = (
            r.join(delta, F.col("doc_id") == F.col("i"))
            .select("doc_id", fround(F.col("r") + F.col("delta"), 4).alias("r"))
            .localCheckpoint(eager=False)
        )
    return (
        r.join(items, "doc_id")
        .select("doc_id", F.col("r").alias("rating"), "n_duels", "n_wins")
        .orderBy(F.col("rating").desc(), "doc_id")
        .limit(PREF_TOPK)
    )


def pref_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-judge position-bias audit: under the symmetric position
    assignment the first-shown doc should win half the time; the
    one-sample proportion z-score against 0.5 flags judges whose
    first-position win rate deviates (the planted PREF_BIASED_RATER
    must trip it; honest judges must not). One duel-keyed aggregation
    to PREF_RATERS rows — the LLM-as-judge audit that screens a judge
    fleet before its labels train a reward model at scale."""
    duels = duel_index(spark, sf_dir)
    fw = (F.col("first_is_a") == F.col("a_wins")).cast("int")
    agg = duels.groupBy("rater").agg(
        F.count(F.lit(1)).alias("n_duels"), F.sum(fw).alias("first_wins")
    )
    z = (F.col("first_wins") - F.col("n_duels") / F.lit(2.0)) / F.sqrt(
        F.col("n_duels") / F.lit(4.0)
    )
    return agg.select(
        "rater",
        "n_duels",
        "first_wins",
        fround(F.col("first_wins").cast("double") / F.col("n_duels"), 4).alias(
            "first_win_rate"
        ),
        fround(z, 4).alias("z_score"),
        (F.abs(z) > PREF_BIAS_Z).cast("int").alias("biased"),
    ).orderBy("rater")


def pref_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise inter-rater reliability matrix: for every judge pair,
    observed agreement on shared duels and Cohen's kappa against the
    chance agreement implied by each judge's A-win marginal. The
    verdict table joins to itself on the duel id (equi-keyed, linear)
    and aggregates to R(R−1)/2 rows."""
    duels = duel_index(spark, sf_dir)
    rw = duels.select("did", "rater", F.col("a_wins").cast("int").alias("wa"))
    marg = rw.groupBy("rater").agg(F.avg(F.col("wa").cast("double")).alias("pa"))
    u = rw.select("did", F.col("rater").alias("rater_a"), F.col("wa").alias("wa_a"))
    v = rw.select(
        F.col("did").alias("did_v"),
        F.col("rater").alias("rater_b"),
        F.col("wa").alias("wa_b"),
    )
    po = (
        u.join(
            v,
            (F.col("did") == F.col("did_v"))
            & (F.col("rater_a") < F.col("rater_b")),
        )
        .groupBy("rater_a", "rater_b")
        .agg(
            F.count(F.lit(1)).alias("n_duels"),
            F.avg((F.col("wa_a") == F.col("wa_b")).cast("double")).alias("po"),
        )
    )
    ma = marg.select(F.col("rater").alias("rater_a"), F.col("pa").alias("pa_a"))
    mb = marg.select(F.col("rater").alias("rater_b"), F.col("pa").alias("pa_b"))
    pe = F.col("pa_a") * F.col("pa_b") + (F.lit(1.0) - F.col("pa_a")) * (
        F.lit(1.0) - F.col("pa_b")
    )
    return (
        po.join(F.broadcast(ma), "rater_a")
        .join(F.broadcast(mb), "rater_b")
        .select(
            "rater_a",
            "rater_b",
            "n_duels",
            fround(F.col("po"), 4).alias("agree_rate"),
            fround(pe, 4).alias("chance_rate"),
            fround((F.col("po") - pe) / (F.lit(1.0) - pe), 4).alias("kappa"),
        )
        .orderBy("rater_a", "rater_b")
    )


def pref_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (1971) across ALL judges at once: per duel the
    pairwise-agreement share among the R verdicts, averaged, against
    the chance agreement from the pooled A-win marginal. One
    duel-keyed aggregation then one global scalar — the single-number
    answer to "is this judge fleet consistent enough to label with"."""
    duels = duel_index(spark, sf_dir)
    per = duels.groupBy("did").agg(
        F.sum(F.col("a_wins").cast("int")).alias("ca"),
        F.count(F.lit(1)).alias("rr"),
    )
    ca, rr = F.col("ca"), F.col("rr")
    p_i = (ca * (ca - 1) + (rr - ca) * (rr - ca - 1)).cast("double") / (
        rr * (rr - 1)
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_duels"),
        F.avg(p_i).alias("p_bar"),
        (F.sum(ca).cast("double") / F.sum(rr)).alias("pa"),
    )
    pe = F.col("pa") * F.col("pa") + (F.lit(1.0) - F.col("pa")) * (
        F.lit(1.0) - F.col("pa")
    )
    return agg.select(
        "n_duels",
        F.lit(PREF_RATERS).cast("bigint").alias("n_raters"),
        fround(F.col("p_bar"), 4).alias("p_bar"),
        fround(pe, 4).alias("p_e"),
        fround((F.col("p_bar") - pe) / (F.lit(1.0) - pe), 4).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _h64_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _duel_prefix() -> str:
    """Shared CTE chain: quality scores → blocked ranking → offset
    pairing → per-rater judged duels. MATERIALIZED throughout (DuckDB
    inlines plain CTEs; the chain is referenced repeatedly)."""
    from mapreduce_rust_spark.operators.text_analysis import _quality_sql

    nz_key = "'nz:' || p.did || '#' || CAST(r.rater AS VARCHAR)"
    pos_key = "'pos:' || p.did || '#' || CAST(r.rater AS VARCHAR)"
    noise = (
        f"(({_h64_sql(nz_key)}"
        f" % 2001 - 1000) / 1000.0) * {PREF_NOISE}"
    )
    first = f"{_h64_sql(pos_key)} % 2 = 0"
    bias = (
        f"CASE WHEN rater = {PREF_BIASED_RATER} THEN"
        f" CASE WHEN first_is_a THEN {PREF_POS_BONUS}"
        f" ELSE -{PREF_POS_BONUS} END ELSE 0.0 END"
    )
    return f"""WITH q AS MATERIALIZED ({_quality_sql()}),
ranked AS MATERIALIZED (
  SELECT doc_id, s, hkey, block,
         row_number() OVER (PARTITION BY block ORDER BY hkey, doc_id) AS rn
  FROM (
    SELECT doc_id, quality_score AS s,
           {_h64_sql("'prefh=' || CAST(doc_id AS VARCHAR)")} AS hkey,
           {_h64_sql("'prefh=' || CAST(doc_id AS VARCHAR)")} % {PREF_BLOCKS} AS block
    FROM q
  ) h
),
pairs AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.s AS s_a, b.s AS s_b,
         CAST(a.block AS VARCHAR) || '-' || CAST(a.rn AS VARCHAR) || '-'
           || CAST(o.off AS VARCHAR) AS did
  FROM ranked a
  CROSS JOIN generate_series(1, {PREF_OFFSETS}) AS o(off)
  JOIN ranked b ON b.block = a.block AND b.rn = a.rn + o.off
),
duels AS MATERIALIZED (
  SELECT doc_a, doc_b, s_a, s_b, did, rater, first_is_a,
         {fround_sql("((s_a - s_b) + noise) + bias", 6)} >= 0 AS a_wins
  FROM (
    SELECT p.*, r.rater, {first} AS first_is_a, {noise} AS noise,
           {bias.replace("first_is_a", f"({first})")} AS bias
    FROM pairs p CROSS JOIN generate_series(0, {PREF_RATERS - 1}) AS r(rater)
  ) j
)"""


def _pair_prefix() -> str:
    """Duel chain + the aggregated pair/item tables the fits share."""
    return f"""{_duel_prefix()},
persp AS MATERIALIZED (
  SELECT doc_a AS i, doc_b AS j, CASE WHEN a_wins THEN 1 ELSE 0 END AS win
  FROM duels
  UNION ALL
  SELECT doc_b AS i, doc_a AS j, CASE WHEN a_wins THEN 0 ELSE 1 END AS win
  FROM duels
),
pairstat AS MATERIALIZED (
  SELECT i, j, count(*) AS n_ij, CAST(sum(win) AS BIGINT) AS w_ij
  FROM persp GROUP BY 1, 2
),
items AS MATERIALIZED (
  SELECT i AS doc_id, CAST(sum(n_ij) AS BIGINT) AS n_duels,
         CAST(sum(w_ij) AS BIGINT) AS n_wins
  FROM pairstat GROUP BY 1
),
nit AS MATERIALIZED (SELECT count(*) AS n FROM items)"""


def _bt_ctes() -> list[str]:
    ctes = ["bt0 AS MATERIALIZED (SELECT doc_id, 1.0 AS pi FROM items)"]
    for t in range(1, PREF_BT_ITERS + 1):
        ctes.append(
            f"""raw{t} AS MATERIALIZED (
  SELECT it.doc_id,
         CAST(it.n_wins AS DOUBLE)
           / sum(p.n_ij / (a.pi + b.pi)) AS raw
  FROM items it
  JOIN pairstat p ON p.i = it.doc_id
  JOIN bt{t - 1} a ON a.doc_id = p.i
  JOIN bt{t - 1} b ON b.doc_id = p.j
  GROUP BY it.doc_id, it.n_wins
)"""
        )
        ctes.append(f"tot{t} AS MATERIALIZED (SELECT sum(raw) AS tot FROM raw{t})")
        ctes.append(
            f"""bt{t} AS MATERIALIZED (
  SELECT doc_id,
         greatest({fround_sql("raw * n.n / t.tot", 6)}, {PREF_BT_FLOOR}) AS pi
  FROM raw{t} CROSS JOIN nit n CROSS JOIN tot{t} t
)"""
        )
    return ctes


def _bt_oracle() -> str:
    joined = ",\n".join(_bt_ctes())
    return f"""{_pair_prefix()},
{joined}
SELECT b.doc_id, b.pi AS strength, it.n_duels, it.n_wins
FROM bt{PREF_BT_ITERS} b JOIN items it USING (doc_id)
ORDER BY strength DESC, doc_id
LIMIT {PREF_TOPK}
"""


def _bt_confidence_oracle() -> str:
    joined = ",\n".join(_bt_ctes())
    t = PREF_BT_ITERS
    return f"""{_pair_prefix()},
{joined},
info AS MATERIALIZED (
  SELECT p.i AS doc_id,
         sum(p.n_ij * (a.pi / (a.pi + b.pi)) * (1.0 - a.pi / (a.pi + b.pi)))
           AS info
  FROM pairstat p
  JOIN bt{t} a ON a.doc_id = p.i
  JOIN bt{t} b ON b.doc_id = p.j
  GROUP BY 1
)
SELECT f.doc_id, f.pi AS strength,
       {fround_sql("1.0 / sqrt(nf.info)", 6)} AS se_log,
       {fround_sql(f"f.pi * exp(-{PREF_CI_Z} * (1.0 / sqrt(nf.info)))", 6)}
         AS ci_lo,
       {fround_sql(f"f.pi * exp({PREF_CI_Z} * (1.0 / sqrt(nf.info)))", 6)}
         AS ci_hi,
       it.n_duels
FROM bt{t} f
JOIN info nf USING (doc_id)
JOIN items it USING (doc_id)
ORDER BY strength DESC, doc_id
LIMIT {PREF_TOPK}
"""


def _duel_planner_oracle() -> str:
    joined = ",\n".join(_bt_ctes())
    t = PREF_BT_ITERS
    return f"""{_pair_prefix()},
{joined}
SELECT p.i, p.j, p.n_ij AS n_duels,
       {fround_sql("a.pi / (a.pi + b.pi)", 4)} AS p_win_i,
       {fround_sql(
           "a.pi / (a.pi + b.pi) * (1.0 - a.pi / (a.pi + b.pi)) / (p.n_ij + 1)", 6
       )} AS gain_score
FROM pairstat p
JOIN bt{t} a ON a.doc_id = p.i
JOIN bt{t} b ON b.doc_id = p.j
WHERE p.i < p.j
ORDER BY gain_score DESC, p.i, p.j
LIMIT {PREF_TOPK}
"""


def _rc_oracle() -> str:
    ctes = [
        """trans AS MATERIALIZED (
  SELECT i, j, CAST(n_ij - w_ij AS DOUBLE) / n_ij AS a FROM pairstat
)""",
        "outm AS MATERIALIZED (SELECT i, sum(a) AS outa FROM trans GROUP BY 1)",
        """dmax AS MATERIALIZED (
  SELECT max(cnt) AS dmax
  FROM (SELECT i, count(*) AS cnt FROM trans GROUP BY 1) d
)""",
        "rc0 AS MATERIALIZED (SELECT doc_id, 1.0 AS r FROM items)",
    ]
    for t in range(1, PREF_RC_ITERS + 1):
        ctes.append(
            f"""flow{t} AS MATERIALIZED (
  SELECT t.j AS doc_id, sum(r.r * t.a) AS flow
  FROM trans t JOIN rc{t - 1} r ON r.doc_id = t.i
  GROUP BY 1
)"""
        )
        ctes.append(
            f"""rc{t} AS MATERIALIZED (
  SELECT r.doc_id,
         {fround_sql(
             "coalesce(f.flow, 0.0) / d.dmax + r.r * (1.0 - o.outa / d.dmax)", 6
         )} AS r
  FROM rc{t - 1} r
  JOIN outm o ON o.i = r.doc_id
  LEFT JOIN flow{t} f ON f.doc_id = r.doc_id
  CROSS JOIN dmax d
)"""
        )
    joined = ",\n".join(ctes)
    return f"""{_pair_prefix()},
{joined}
SELECT r.doc_id, r.r AS score, it.n_duels, it.n_wins
FROM rc{PREF_RC_ITERS} r JOIN items it USING (doc_id)
ORDER BY score DESC, doc_id
LIMIT {PREF_TOPK}
"""


def _elo_oracle() -> str:
    ctes = [
        f"elo0 AS MATERIALIZED (SELECT doc_id, {PREF_ELO_INIT} AS r FROM items)"
    ]
    for t in range(1, PREF_ELO_EPOCHS + 1):
        ctes.append(
            f"""d{t} AS MATERIALIZED (
  SELECT p.i,
         sum({PREF_ELO_K} * (p.w_ij - p.n_ij
           * (1.0 / (1.0 + power(10.0, (b.r - a.r) / {PREF_ELO_SCALE}))))) AS delta
  FROM pairstat p
  JOIN elo{t - 1} a ON a.doc_id = p.i
  JOIN elo{t - 1} b ON b.doc_id = p.j
  GROUP BY 1
)"""
        )
        ctes.append(
            f"""elo{t} AS MATERIALIZED (
  SELECT r.doc_id, {fround_sql("r.r + d.delta", 4)} AS r
  FROM elo{t - 1} r JOIN d{t} d ON d.i = r.doc_id
)"""
        )
    joined = ",\n".join(ctes)
    return f"""{_pair_prefix()},
{joined}
SELECT r.doc_id, r.r AS rating, it.n_duels, it.n_wins
FROM elo{PREF_ELO_EPOCHS} r JOIN items it USING (doc_id)
ORDER BY rating DESC, doc_id
LIMIT {PREF_TOPK}
"""


ORACLE["pref_bradley_terry"] = _bt_oracle()
ORACLE["pref_bt_confidence"] = _bt_confidence_oracle()
ORACLE["pref_duel_planner"] = _duel_planner_oracle()
ORACLE["pref_rank_centrality"] = _rc_oracle()
ORACLE["pref_elo_batch"] = _elo_oracle()

ORACLE["pref_position_bias"] = f"""{_duel_prefix()}
SELECT rater, n_duels, first_wins,
       {fround_sql("CAST(first_wins AS DOUBLE) / n_duels", 4)} AS first_win_rate,
       {fround_sql("z", 4)} AS z_score,
       CASE WHEN abs(z) > {PREF_BIAS_Z} THEN 1 ELSE 0 END AS biased
FROM (
  SELECT rater, n_duels, first_wins,
         (first_wins - n_duels / 2.0) / sqrt(n_duels / 4.0) AS z
  FROM (
    SELECT rater, count(*) AS n_duels,
           CAST(sum(CASE WHEN first_is_a = a_wins THEN 1 ELSE 0 END) AS BIGINT)
             AS first_wins
    FROM duels GROUP BY 1
  ) c
) zc
ORDER BY rater
"""

ORACLE["pref_rater_agreement"] = f"""{_duel_prefix()},
rw AS MATERIALIZED (
  SELECT did, rater, CASE WHEN a_wins THEN 1 ELSE 0 END AS wa FROM duels
),
marg AS MATERIALIZED (
  SELECT rater, avg(CAST(wa AS DOUBLE)) AS pa FROM rw GROUP BY 1
),
po AS MATERIALIZED (
  SELECT u.rater AS rater_a, v.rater AS rater_b, count(*) AS n_duels,
         avg(CASE WHEN u.wa = v.wa THEN 1.0 ELSE 0.0 END) AS po
  FROM rw u JOIN rw v ON u.did = v.did AND u.rater < v.rater
  GROUP BY 1, 2
)
SELECT rater_a, rater_b, n_duels,
       {fround_sql("po", 4)} AS agree_rate,
       {fround_sql("ma.pa * mb.pa + (1.0 - ma.pa) * (1.0 - mb.pa)", 4)}
         AS chance_rate,
       {fround_sql(
           "(po - (ma.pa * mb.pa + (1.0 - ma.pa) * (1.0 - mb.pa)))"
           " / (1.0 - (ma.pa * mb.pa + (1.0 - ma.pa) * (1.0 - mb.pa)))", 4
       )} AS kappa
FROM po
JOIN marg ma ON ma.rater = po.rater_a
JOIN marg mb ON mb.rater = po.rater_b
ORDER BY rater_a, rater_b
"""

ORACLE["pref_fleiss_kappa"] = f"""{_duel_prefix()},
per AS MATERIALIZED (
  SELECT did, CAST(sum(CASE WHEN a_wins THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         count(*) AS rr
  FROM duels GROUP BY 1
),
agg AS MATERIALIZED (
  SELECT count(*) AS n_duels,
         avg(CAST(ca * (ca - 1) + (rr - ca) * (rr - ca - 1) AS DOUBLE)
             / (rr * (rr - 1))) AS p_bar,
         CAST(sum(ca) AS DOUBLE) / sum(rr) AS pa
  FROM per
)
SELECT n_duels, CAST({PREF_RATERS} AS BIGINT) AS n_raters,
       {fround_sql("p_bar", 4)} AS p_bar,
       {fround_sql("pa * pa + (1.0 - pa) * (1.0 - pa)", 4)} AS p_e,
       {fround_sql(
           "(p_bar - (pa * pa + (1.0 - pa) * (1.0 - pa)))"
           " / (1.0 - (pa * pa + (1.0 - pa) * (1.0 - pa)))", 4
       )} AS kappa
FROM agg
"""


QUERIES = {
    "pref_bradley_terry": pref_bradley_terry,
    "pref_bt_confidence": pref_bt_confidence,
    "pref_duel_planner": pref_duel_planner,
    "pref_rank_centrality": pref_rank_centrality,
    "pref_elo_batch": pref_elo_batch,
    "pref_position_bias": pref_position_bias,
    "pref_rater_agreement": pref_rater_agreement,
    "pref_fleiss_kappa": pref_fleiss_kappa,
}
