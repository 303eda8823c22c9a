"""Iterative graph operators over the near-duplicate graph.

A dedup pipeline's pair output (``dedup_minhash_lsh``,
``dedup_simhash``, …) is an edge list; choosing survivors requires the
duplicate *clusters*, i.e. connected components. Components are
inherently iterative — no fixed-depth SQL expresses them — so this is
the engine's iterative-algorithm surface, implemented as min-label
propagation on DataFrames (the standard "small-star" style loop):

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until a fixpoint, which takes O(diameter) rounds. Each round
is one shuffle (groupBy node); the loop runs on the driver but every
data operation is distributed — no collect of nodes or edges. At
100 TB scale this is the textbook Spark components loop (GraphX/
GraphFrames use the same alternation); convergence is checked with a
cheap aggregate per round rather than materializing differences.

Every slug here runs over one graph, and each shared piece of it is
built in one place:

1. the candidate pairs — MinHash-LSH pairs at threshold 0.5, each
   unordered pair once with ``d1 < d2`` — are the ``pairs-k3-t0.5``
   session index (:func:`_pairs`);
2. the undirected edge list, both orientations of the pairs, is the
   ``edges-0.5`` session index (:func:`_graph_edges`). The public
   operators take any edge list, so each builds its own with
   :func:`_undirected`, the one helper for both orientations;
3. the connected components are the ``components-0.5`` session index
   (:func:`dedup_components`);
4. the label-propagation communities are the ``lpa-r2-0.5`` session
   index (:func:`lpa_labels`).

The DuckDB oracles share the same pieces as SQL: ``_GRAPH_SQL`` is the
``pairs``/``edges`` CTE prelude, :func:`_lpa_sql` unrolls the LPA
rounds, and :func:`_components_oracle` is the recursive-CTE transitive
closure — exact same semantics as the components loop, tractable at
oracle scale (sf0.01), infeasible at cluster scale (closure blowup),
which is precisely why the engine runs label propagation instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.numeric import fround, fround_sql
from mapreduce_rust_spark.indexes import session_index
from mapreduce_rust_spark.operators.dedup import _minhash_oracle, candidate_pairs_index
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}

# The near-dup graph as DuckDB CTEs: the candidate pairs and both
# orientations of them. MATERIALIZED because most oracles read them
# several times; otherwise DuckDB re-inlines the whole MinHash
# signature derivation per reference (and spills to disk at sf1).
_GRAPH_SQL = f"""pairs AS MATERIALIZED (
  SELECT d1, d2 FROM ({_minhash_oracle()}) WHERE est_sim >= 0.5
),
edges AS MATERIALIZED (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
)"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup graph: the LSH candidate pairs ``(d1, d2, est_sim)``
    at threshold 0.5, a session index."""
    return candidate_pairs_index(spark, sf_dir, threshold=0.5, k=3)


def _undirected(edges: DataFrame, src: str = "d1", dst: str = "d2") -> DataFrame:
    """Both orientations of ``edges``, once each, as ``(a, b)``.

    The lazy ``localCheckpoint`` truncates the lineage of the loops
    that read the edges every round; without it every round
    re-analyzes a plan that grows with the iteration count (measured
    33 s → 12 s for the components loop at sf0.1). Lazy, because the
    first job that reads the edges caches them as a side effect, so
    the checkpoint costs no job of its own. On a multi-node cluster,
    write to reliable storage instead of executor-local blocks."""
    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup graph's undirected edge list ``(a, b)``, a session
    index read by the slugs that take degrees or neighbors."""
    return session_index(
        spark, sf_dir, "edges-0.5", lambda: _undirected(_pairs(spark, sf_dir))
    )


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    component = min node id reachable. Undirected.

    Each iteration: propagate every node's current label across all
    edges (both directions), take the min per node, stop when no label
    changed (checked via a single count of improved labels). Labels
    monotonically decrease and are bounded below, so termination is
    guaranteed; rounds ≈ graph diameter ≤ ``max_iter``."""
    e = _undirected(edges, src, dst)
    # identity-label init FUSED with the first propagation round: a
    # node's round-1 label is min(self, neighbors), which one grouped
    # aggregation over the edge list computes directly — saves the
    # separate distinct-nodes shuffle, one full join+groupBy round,
    # and one convergence job (A/B measured ~20% off the loop).
    # LAZY checkpoints fold materialization into the convergence
    # aggregate: each round runs exactly ONE job — the Σcomp collect —
    # which computes the propagated labels, caches the truncation
    # blocks as a side effect, and returns the convergence scalar.
    labels = (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.min("a")).alias("comp"))
        .localCheckpoint(eager=False)
    )
    # labels only ever decrease, so Σcomp is a strictly decreasing
    # potential until the fixpoint — one cheap aggregate per round
    # detects convergence with no old-vs-new join.
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for _ in range(max_iter):
        # candidate labels arriving over edges, merged with own label
        prop = (
            e.join(labels, e["a"] == labels["node"])
            .select(F.col("b").alias("node"), F.col("comp"))
            .union(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        new_sum = prop.agg(F.sum("comp")).collect()[0][0]
        labels = prop
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters from MinHash-LSH candidate pairs: every doc
    participating in a near-dup pair, labeled with its component's min
    doc_id (the canonical survivor). Downstream: keep rows where
    node == comp, drop the rest.

    A session index: survivor selection, cluster stats, the clustering
    agreement audit and reporting all consume it, so the propagation
    loop runs once per dataset, not once per consuming query."""
    return session_index(
        spark, sf_dir, "components-0.5",
        lambda: connected_components(_pairs(spark, sf_dir)).select("node", "comp"),
    )


def _components_oracle() -> str:
    return f"""
WITH RECURSIVE {_GRAPH_SQL},
reach(node, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node, min(lbl) AS comp FROM reach GROUP BY node
"""


ORACLE["dedup_components"] = _components_oracle()


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over duplicate clusters: within each
    connected component of near-dup pairs, keep the LONGEST document
    (min doc_id on ties) instead of the arbitrary min-id — the policy
    real pipelines want ("drop the truncated copies"). Composes the
    components index with a per-component ranking window; the window
    shuffles only the clustered docs (a tiny fraction of the corpus),
    never the full table."""
    comps = dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = comps.join(docs, comps["node"] == docs["doc_id"]).select(
        "comp", "node", "n_chars"
    )
    w = W.partitionBy("comp").orderBy(F.col("n_chars").desc(), F.col("node"))
    ranked = members.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("comp")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("node"))).alias("survivor"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars"))).alias("survivor_chars"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .orderBy("comp")
    )


ORACLE["dedup_keep_best"] = f"""
WITH comps AS ({_components_oracle()}),
ranked AS (
  SELECT c.comp, c.node, d.n_chars,
         row_number() OVER (PARTITION BY c.comp
                            ORDER BY d.n_chars DESC, c.node) AS rk
  FROM comps c JOIN documents d ON d.doc_id = c.node
)
SELECT comp,
       max(CASE WHEN rk = 1 THEN node END) AS survivor,
       max(CASE WHEN rk = 1 THEN n_chars END) AS survivor_chars,
       count(*) AS n_members
FROM ranked GROUP BY comp ORDER BY comp
"""

LPA_ROUNDS = 2  # fixed, synchronous — keeps the oracle unrollable


def label_propagation(
    edges: DataFrame, src: str, dst: str, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list: every node starts labeled with itself; each
    round it adopts the MODE of its neighbors' labels (count desc,
    min label on ties). Unlike min-label components this finds
    communities, not reachability classes — a bridge edge between two
    dense dup clusters doesn't merge them.

    A FIXED round count (not convergence) keeps the operator
    deterministic AND value-oracle-able: the DuckDB twin
    (:func:`_lpa_sql`) unrolls the same rounds as CTEs (the
    ``embedding_kmeans`` trick). Each round is one join + one (node,
    label) count + one argmax window partitioned by node — all keyed
    shuffles on node ids, no global ordering anywhere."""
    und = _undirected(edges, src, dst)
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl"))
    for _ in range(rounds):
        labels = (
            und.join(labels.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), "lbl")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)
        )
    return labels


def lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, lbl)``: the LPA communities of the near-dup graph after
    ``LPA_ROUNDS`` rounds. A session index like
    :func:`dedup_components`: the community size, modularity,
    conductance and clustering-agreement slugs all read it, so the
    rounds run once per dataset."""
    return session_index(
        spark, sf_dir, f"lpa-r{LPA_ROUNDS}-0.5",
        lambda: label_propagation(_pairs(spark, sf_dir), "d1", "d2"),
    )


def _lpa_sql() -> str:
    """CTEs ``l0``, ``r1`` … and ``labels(node, lbl)``: the rounds of
    :func:`label_propagation` unrolled over ``edges``."""
    ctes = ["l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM edges)"]
    for i in range(1, LPA_ROUNDS + 1):
        prev = f"r{i - 1}" if i > 1 else "l0"
        ctes.append(
            f"""r{i} AS (
  SELECT node, lbl FROM (
    SELECT e.b AS node, l.lbl, count(*) AS c,
           row_number() OVER (PARTITION BY e.b
                              ORDER BY count(*) DESC, l.lbl) AS rn
    FROM edges e JOIN {prev} l ON l.node = e.a
    GROUP BY e.b, l.lbl
  ) WHERE rn = 1
)"""
        )
    ctes.append(f"labels AS MATERIALIZED (SELECT node, lbl FROM r{LPA_ROUNDS})")
    return ",\n".join(ctes)


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after ``LPA_ROUNDS`` LPA rounds over the LSH
    near-dup candidate graph — the community-detection view of the
    dup graph (vs ``dedup_components``' reachability view). Output is
    one row per surviving community label."""
    return (
        lpa_labels(spark, sf_dir)
        .groupBy(F.col("lbl").alias("label"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("label")
    )


ORACLE["graph_label_propagation"] = f"""
WITH {_GRAPH_SQL},
{_lpa_sql()}
SELECT lbl AS label, count(*) AS n_nodes
FROM labels GROUP BY 1 ORDER BY 1
"""


def _communities(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """What the community-quality readouts share: every undirected edge
    tagged with its endpoints' LPA communities ``(ca, cb)``, each
    community's volume (total degree) and 2m, the undirected edge
    count (each edge counted both ways)."""
    labels = lpa_labels(spark, sf_dir)
    und = _graph_edges(spark, sf_dir)
    m2 = und.count()
    la = labels.select(F.col("node").alias("a"), F.col("lbl").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("lbl").alias("cb"))
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    vol = (
        labels.join(deg, "node")
        .groupBy(F.col("lbl").alias("community"))
        .agg(F.sum("deg").alias("vol"))
    )
    return und.join(la, "a").join(lb, "b"), vol, m2


# The oracle twin of _communities, after _GRAPH_SQL and _lpa_sql().
_COMMUNITIES_SQL = """m2 AS (SELECT count(*) AS m2 FROM edges),
tagged AS (
  SELECT la.lbl AS ca, lb.lbl AS cb
  FROM edges e
  JOIN labels la ON la.node = e.a
  JOIN labels lb ON lb.node = e.b
),
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY 1),
vol AS (
  SELECT l.lbl AS community, sum(d.deg) AS vol
  FROM labels l JOIN deg d ON d.a = l.node
  GROUP BY 1
)"""


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA communities — the number that
    says whether the detected communities are REAL structure:
    Q = Σ_c (e_c/m − (D_c/2m)²), e_c = intra-community edges, D_c =
    total degree in c; Q ≈ 0 means no better than random, Q ≳ 0.3
    means solid structure. The quality gate one runs before trusting
    community-based dedup survivors. Plan: labels come from the shared
    LPA index (same communities as graph_label_propagation);
    classifying every edge as intra/inter is two node-keyed label
    joins; the Σ runs over the |communities|-row frame. The
    per-community decomposition, all bounded aggregates."""
    tagged, vol, m2 = _communities(spark, sf_dir)
    intra = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg((F.count(F.lit(1)) / 2).cast("bigint").alias("e_in"))
    )
    e_in = F.coalesce("e_in", F.lit(0))
    share = F.col("vol") / F.lit(float(m2))
    return (
        vol.join(intra, "community", "left")
        .select(
            "community",
            e_in.alias("e_in"),
            F.col("vol").alias("d_tot"),
            fround(e_in / F.lit(m2 / 2.0) - share * share, 6).alias("q_contrib"),
        )
        .orderBy("community")
    )


ORACLE["graph_modularity"] = f"""
WITH {_GRAPH_SQL},
{_lpa_sql()},
{_COMMUNITIES_SQL},
intra AS (
  SELECT ca AS community, CAST(count(*) / 2 AS BIGINT) AS e_in
  FROM tagged WHERE ca = cb GROUP BY 1
)
SELECT v.community,
       CAST(coalesce(i.e_in, 0) AS BIGINT) AS e_in,
       CAST(v.vol AS BIGINT) AS d_tot,
       {fround_sql("coalesce(i.e_in, 0) / (any_value(m2.m2) / 2.0) - (v.vol / CAST(any_value(m2.m2) AS DOUBLE)) * (v.vol / CAST(any_value(m2.m2) AS DOUBLE))", 6)} AS q_contrib
FROM vol v
LEFT JOIN intra i ON i.community = v.community
CROSS JOIN m2
GROUP BY v.community, i.e_in, v.vol
ORDER BY v.community
"""


def graph_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community CONDUCTANCE of the LPA communities — the cut
    quality metric modularity doesn't give you: phi(c) = cut(c) /
    min(vol(c), 2m - vol(c)), where cut = edge endpoints leaving the
    community and vol = total degree inside. Low phi = a community
    that barely touches the rest of the dup graph (safe to dedup as a
    unit); phi near 1 = an LSH-bridge artifact. Same shared inputs as
    ``graph_modularity`` (:func:`_communities`); the readout runs on
    the |communities|-row frame — nothing here scales beyond the edge
    list."""
    tagged, vol, m2 = _communities(spark, sf_dir)
    cut = (
        tagged.filter(F.col("ca") != F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    phi = F.coalesce("cut", F.lit(0)) / F.greatest(
        F.least(F.col("vol").cast("double"), F.lit(float(m2)) - F.col("vol")),
        F.lit(1.0),
    )
    return (
        vol.join(cut, "community", "left")
        .select(
            "community",
            F.col("vol").cast("bigint").alias("vol"),
            F.coalesce("cut", F.lit(0)).cast("bigint").alias("cut"),
            fround(phi, 6).alias("conductance"),
        )
        .orderBy("community")
    )


ORACLE["graph_conductance"] = f"""
WITH {_GRAPH_SQL},
{_lpa_sql()},
{_COMMUNITIES_SQL},
cut AS (
  SELECT ca AS community, CAST(count(*) AS BIGINT) AS cut
  FROM tagged WHERE ca <> cb GROUP BY 1
)
SELECT v.community,
       CAST(v.vol AS BIGINT) AS vol,
       CAST(coalesce(c.cut, 0) AS BIGINT) AS cut,
       {fround_sql("coalesce(c.cut, 0) / greatest(least(v.vol * 1.0, any_value(m2.m2) - v.vol), 1.0)", 6)} AS conductance
FROM vol v
LEFT JOIN cut c ON c.community = v.community
CROSS JOIN m2
GROUP BY v.community, v.vol, c.cut
ORDER BY v.community
"""


def graph_clustering_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the dup graph's TWO clusterings —
    connected components (reachability) vs label propagation
    (communities): the standard audit for "do our cheap and expensive
    grouping strategies agree, and where". ARI = (Σ_ij C(n_ij,2) −
    E)/(½(Σ_i C(a_i,2)+Σ_j C(b_j,2)) − E), E the chance-agreement
    term — 1.0 means identical partitions, ≈0 means chance. Both
    labelings are session indexes (``dedup_components``,
    :func:`lpa_labels`); the contingency table is one (comp, lbl)
    aggregation bounded by cluster counts, and every C(n,2) is plain
    arithmetic. When LPA splits a weakly-bridged component the ARI
    drops — the signal to re-examine those bridge edges before merging
    survivors."""
    comp = dedup_components(spark, sf_dir).select("node", F.col("comp").alias("ca"))
    lpa = lpa_labels(spark, sf_dir).select("node", F.col("lbl").alias("cb"))
    j = comp.join(lpa, "node")

    def c2(col):
        return col * (col - F.lit(1)) / F.lit(2.0)

    nij = j.groupBy("ca", "cb").agg(F.count(F.lit(1)).alias("n"))
    sum_nij = nij.agg(F.sum(c2(F.col("n"))).alias("s"))
    ai = j.groupBy("ca").agg(F.count(F.lit(1)).alias("n"))
    sum_ai = ai.agg(F.sum(c2(F.col("n"))).alias("sa"))
    bj = j.groupBy("cb").agg(F.count(F.lit(1)).alias("n"))
    sum_bj = bj.agg(F.sum(c2(F.col("n"))).alias("sb"))
    tot = j.agg(c2(F.count(F.lit(1))).alias("t"), F.count(F.lit(1)).alias("n_nodes"))
    out = (
        tot.crossJoin(F.broadcast(sum_nij))
        .crossJoin(F.broadcast(sum_ai))
        .crossJoin(F.broadcast(sum_bj))
    )
    expected = F.col("sa") * F.col("sb") / F.col("t")
    return out.select(
        "n_nodes",
        fround("s", 2).alias("sum_pairs_joint"),
        fround(
            (F.col("s") - expected)
            / ((F.col("sa") + F.col("sb")) / 2.0 - expected),
            6,
        ).alias("adjusted_rand_index"),
    )


ORACLE["graph_clustering_agreement"] = f"""
WITH comps AS MATERIALIZED ({_components_oracle()}),
{_GRAPH_SQL},
{_lpa_sql()},
j AS (
  SELECT c.node, c.comp AS ca, l.lbl AS cb
  FROM comps c JOIN labels l USING (node)
),
nij AS (
  SELECT sum(n * (n - 1) / 2.0) AS s
  FROM (SELECT ca, cb, count(*) AS n FROM j GROUP BY 1, 2)
),
sa_ AS (
  SELECT sum(n * (n - 1) / 2.0) AS sa
  FROM (SELECT ca, count(*) AS n FROM j GROUP BY 1)
),
sb_ AS (
  SELECT sum(n * (n - 1) / 2.0) AS sb
  FROM (SELECT cb, count(*) AS n FROM j GROUP BY 1)
),
tot AS (
  SELECT count(*) AS n_nodes,
         count(*) * (count(*) - 1) / 2.0 AS t
  FROM j
)
SELECT CAST(tot.n_nodes AS BIGINT) AS n_nodes,
       {fround_sql("nij.s", 2)} AS sum_pairs_joint,
       {fround_sql("(nij.s - sa_.sa * sb_.sb / tot.t) / ((sa_.sa + sb_.sb) / 2.0 - sa_.sa * sb_.sb / tot.t)", 6)} AS adjusted_rand_index
FROM tot CROSS JOIN nij CROSS JOIN sa_ CROSS JOIN sb_
"""


def pagerank_fixed(
    edges: DataFrame, src: str, dst: str, iters: int = 3, d: float = 0.85
) -> DataFrame:
    """PageRank with a FIXED iteration count over an undirected edge
    list: r ← (1−d)/N + d·Σ_in r/deg, unrolled ``iters`` times.
    Fixed unrolling (vs iterate-to-convergence) keeps the operator
    SQL-expressible, so the oracle can verify it exactly — the
    convergence-loop variant is the same body under the
    connected_components-style driver loop. Each iteration is one
    join + one aggregation on the node key; the rank/degree frame is
    tiny relative to the input that produced the edges."""
    e = _undirected(edges, src, dst)
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    ranks = deg.select("a", F.lit(1.0 / n).alias("r"))
    for _ in range(iters):
        contrib = (
            e.join(ranks, "a")
            .join(deg, "a")
            .select(F.col("b").alias("a"), (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("a")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = deg.select("a").join(contrib, "a", "left").select(
            "a",
            (F.lit((1.0 - d) / n) + F.lit(d) * F.coalesce("in_sum", F.lit(0.0))).alias("r"),
        )
    return ranks.select(F.col("a").alias("node"), F.col("r"))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the MinHash-LSH near-duplicate graph
    — ranks the "hub" documents of each duplicate cluster."""
    pr = pagerank_fixed(_pairs(spark, sf_dir), "d1", "d2", iters=3, d=0.85)
    return pr.select(
        "node", F.expr("floor(round(r, 10) * 1000000) / 1000000").alias("rank")
    ).orderBy(F.col("rank").desc(), "node")


ORACLE["graph_pagerank"] = f"""
WITH {_GRAPH_SQL},
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
n AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT a, 1.0 / n AS r FROM deg CROSS JOIN n),
{",".join(f'''
r{i} AS (
  SELECT d.a, 0.15 / any_value(n.n) + 0.85 * coalesce(sum(r.r / dd.deg), 0) AS r
  FROM deg d CROSS JOIN n
  LEFT JOIN edges e ON e.b = d.a
  LEFT JOIN r{i - 1} r ON r.a = e.a
  LEFT JOIN deg dd ON dd.a = e.a
  GROUP BY d.a
)''' for i in range(1, 4))}
SELECT a AS node, floor(round(r, 10) * 1000000) / 1000000 AS rank
FROM r3 ORDER BY rank DESC, node
"""


def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-duplicate graph — the structural
    health check of a dedup run: a heavy tail (one node touching
    thousands of pairs) means a boilerplate cluster is about to blow
    up the pair join, and the star-edge / cap mitigations should kick
    in. Reuses the memoized candidate pairs; two tiny aggregations
    (per-node degree, then degree → node count), both with key spaces
    orders of magnitude below the corpus."""
    pairs = _pairs(spark, sf_dir)
    nodes = pairs.select(F.col("d1").alias("node")).unionAll(
        pairs.select(F.col("d2").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )


ORACLE["graph_degree_distribution"] = f"""
WITH {_GRAPH_SQL},
nodes AS (
  SELECT d1 AS node FROM pairs UNION ALL SELECT d2 FROM pairs
),
deg AS (SELECT node, count(*) AS degree FROM nodes GROUP BY 1)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY 1 ORDER BY 1
"""


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over a canonical (d1 < d2) edge
    list — the classic two-join distributed formulation: wedge
    (a,b)+(b,c) closed by the (a,c) edge, each triangle enumerated
    exactly once because a < b < c is forced by edge canonicality.
    Cost is Σ_b deg(b)² for the wedge join — at cluster scale, orient
    edges by degree (low→high) first; here the LSH posting-list cap
    already bounds degrees."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.d2") == F.col("e2.d1"))
        .join(
            e3,
            (F.col("e3.d1") == F.col("e1.d1"))
            & (F.col("e3.d2") == F.col("e2.d2")),
        )
        .select(
            F.col("e1.d1").alias("a"),
            F.col("e1.d2").alias("b"),
            F.col("e2.d2").alias("c"),
        )
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph (the clustering-
    coefficient building block): a triangle is three documents that
    are ALL pairwise near-duplicates — dense boilerplate cliques show
    up here while the component census still sees one undifferentiated
    blob. Reuses the memoized candidate pairs; the joins run over the
    edge list (orders of magnitude smaller than the corpus)."""
    return triangle_count(_pairs(spark, sf_dir).select("d1", "d2")).orderBy("node")


ORACLE["graph_triangle_count"] = f"""
WITH {_GRAPH_SQL},
tri AS (
  SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.d1 = e1.d2
  JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
),
nodes AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, count(*) AS n_triangles FROM nodes GROUP BY 1 ORDER BY 1
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster SIZE DISTRIBUTION: how many near-dup clusters
    have 2 members, 3, … — the shape report that decides dedup policy
    (a fat head of giant clusters means boilerplate/templating and
    argues for keep-one-per-cluster; a long tail of pairs means
    organic duplication). Free off the memoized component labeling
    (one extra two-level aggregation); the cluster-size key is tiny."""
    labels = dedup_components(spark, sf_dir)
    return (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs_covered",
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint"),
        )
        .orderBy("cluster_size")
    )


ORACLE["dedup_cluster_sizes"] = f"""
WITH comps AS ({_components_oracle()})
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs_covered
FROM (SELECT comp, count(*) AS cluster_size FROM comps GROUP BY comp)
GROUP BY cluster_size ORDER BY cluster_size
"""


def _common_neighbors(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(pairs, deg, common)`` for the link-prediction scores: the
    candidate pairs, every node's degree in the undirected graph, and
    one ``(d1, d2, w)`` row per common neighbor ``w`` of a
    candidate pair, the pair's own endpoints excluded."""
    pairs = _pairs(spark, sf_dir).select("d1", "d2")
    und = _graph_edges(spark, sf_dir)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    common = (
        pairs.join(und.select(F.col("a").alias("d1"), F.col("b").alias("w")), "d1")
        .join(und.select(F.col("a").alias("d2"), F.col("b").alias("w")), ["d2", "w"])
        .filter((F.col("w") != F.col("d1")) & (F.col("w") != F.col("d2")))
    )
    return pairs, deg, common


def graph_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural (link-prediction) similarity of each near-dup
    candidate pair: Jaccard of the two docs' NEIGHBOR SETS in the dup
    graph, excluding the pair itself — high overlap means the pair
    sits inside a coherent duplicate cluster (safe to merge); zero
    overlap flags a bridge edge that may be an LSH false positive
    chaining two unrelated clusters. The triangle-closing signal
    community detection and entity resolution both lean on. Reuses
    the session-memoized LSH candidate pairs (same edge list as the
    components loop — no re-banding); common-neighbor counting is one
    self-join of the edge list KEYED ON THE PAIR, so cost is
    Σ_pairs min(deg) — bounded by the LSH candidate set, never n².
    Every candidate pair is itself an edge, so the excluded-other
    degree is deg-1 exactly; all-integer arithmetic until the final
    ratio."""
    pairs, deg, common = _common_neighbors(spark, sf_dir)
    cn = common.groupBy("d1", "d2").agg(F.count(F.lit(1)).alias("cn"))
    da = deg.select(F.col("a").alias("d1"), (F.col("deg") - 1).alias("deg1"))
    db = deg.select(F.col("a").alias("d2"), (F.col("deg") - 1).alias("deg2"))
    n_common = F.coalesce("cn", F.lit(0))
    union = F.col("deg1") + F.col("deg2") - n_common
    out = (
        pairs.join(cn, ["d1", "d2"], "left")
        .join(da, "d1")
        .join(db, "d2")
        .select(
            "d1",
            "d2",
            n_common.alias("common_neighbors"),
            F.when(union > 0, fround(n_common / union, 6))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )
    return out.orderBy(
        F.col("jaccard").desc(), F.col("common_neighbors").desc(), "d1", "d2"
    ).limit(100)


ORACLE["graph_node_jaccard"] = f"""
WITH {_GRAPH_SQL},
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY 1),
common AS (
  SELECT p.d1, p.d2, count(*) AS cn
  FROM pairs p
  JOIN edges e1 ON e1.a = p.d1
  JOIN edges e2 ON e2.a = p.d2 AND e2.b = e1.b
  WHERE e1.b != p.d1 AND e1.b != p.d2
  GROUP BY 1, 2
)
SELECT p.d1, p.d2,
       CAST(coalesce(cn, 0) AS BIGINT) AS common_neighbors,
       CASE WHEN (da.deg - 1) + (db.deg - 1) - coalesce(cn, 0) > 0
            THEN floor(round((coalesce(cn, 0) / CAST((da.deg - 1) + (db.deg - 1) - coalesce(cn, 0) AS DOUBLE)), 10) * 1000000) / 1000000
            ELSE 0.0 END AS jaccard
FROM pairs p
LEFT JOIN common c ON c.d1 = p.d1 AND c.d2 = p.d2
JOIN deg da ON da.a = p.d1
JOIN deg db ON db.a = p.d2
ORDER BY jaccard DESC, common_neighbors DESC, p.d1, p.d2
LIMIT 100
"""


KCORE_K = 2
KCORE_ROUNDS = 4


def kcore_peel(edges: DataFrame, src: str, dst: str, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling: repeatedly drop nodes with degree
    < k and restrict edges to survivors. ``rounds`` is FIXED (not
    run-to-convergence) so the DuckDB oracle can replay the identical
    computation as unrolled CTEs — the same contract as the k-means
    trace; `tests/test_advanced.py` pins that the peel has CONVERGED
    by that depth on the real data (round r == round r+1), so the
    fixed-round output equals the true k-core there. Each round is
    one degree aggregation + one semi-join pair — all keyed on node
    ids, no driver data."""
    e = _undirected(edges, src, dst)
    for _ in range(rounds):
        alive = (
            e.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        e = (
            e.join(alive, "a", "left_semi")
            .join(alive.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_deg"))
        .orderBy("node")
    )


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {k}-core of the near-dup graph: the maximal subgraph where
    every doc keeps ≥ {k} duplicate-candidate neighbors — the dense
    hearts of duplicate clusters (a chain of borderline pairs falls
    out; a genuinely replicated document family survives). Standard
    community-detection preprocessing; reuses the memoized LSH pair
    list like the components loop."""
    return kcore_peel(_pairs(spark, sf_dir), "d1", "d2", KCORE_K, KCORE_ROUNDS)


graph_kcore.__doc__ = graph_kcore.__doc__.format(k=KCORE_K)

def _kcore_oracle() -> str:
    rounds, prev = [], "edges"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(f"""
n{r} AS (
  SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN n{r} x ON e.a = x.a
  JOIN n{r} y ON e.b = y.a
)""")
        prev = f"e{r}"
    return f"""
WITH {_GRAPH_SQL},{",".join(rounds)}
SELECT a AS node, count(*) AS core_deg
FROM {prev}
GROUP BY a
ORDER BY node
"""


ORACLE["graph_kcore"] = _kcore_oracle()


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree ASSORTATIVITY of the near-duplicate graph: the Pearson
    correlation of endpoint degrees over all (directed) edges — the
    one-number structural fingerprint that separates hub-and-spoke
    duplication (negative: boilerplate templates matched by many
    singleton near-copies) from clique-like duplication (positive:
    dense mutually-similar families). Reuses the memoized LSH pairs;
    cost is one degree aggregation plus two joins keyed on node ids,
    all edge-list-sized. corr is algebraic, so the final statistic is
    one partial-aggregatable pass."""
    und = _graph_edges(spark, sf_dir)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("a").alias("b"), F.col("deg").alias("deg_b"))
    return und.join(da, "a").join(db, "b").agg(
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        fround(F.corr("deg_a", "deg_b"), 4).alias("assortativity"),
    )


ORACLE["graph_assortativity"] = f"""
WITH {_GRAPH_SQL},
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY 1)
SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
       {fround_sql('corr(da.deg, db.deg)', 4)} AS assortativity
FROM edges e
JOIN deg da ON da.a = e.a
JOIN deg db ON db.a = e.b
"""


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link-prediction score for each near-dup candidate
    pair: AA(u,v) = Σ_{w ∈ CN(u,v)} 1/ln(deg(w)) — common neighbors
    weighted by how *selective* they are (a shared neighbor that
    touches everything carries almost no evidence; a rare one is a
    strong merge signal). The standard refinement over raw
    common-neighbor counts for entity-resolution edge scoring. Same
    plan shape as graph_node_jaccard: one pair-keyed self-join of the
    memoized LSH edge list plus a broadcast-size degree join on the
    common neighbor — cost Σ_pairs min(deg), bounded by the banded
    candidate set, never n². Every common neighbor has deg ≥ 2 (it
    touches both endpoints), so ln(deg) > 0 always; excluded-endpoint
    correction is unnecessary for the NEIGHBOR's own degree (the
    weight is a property of w, not of the pair)."""
    pairs, deg, common = _common_neighbors(spark, sf_dir)
    scored = (
        common.join(deg.select(F.col("a").alias("w"), "deg"), "w")
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log("deg")).alias("aa"),
        )
    )
    return (
        pairs.join(scored, ["d1", "d2"], "left")
        .select(
            "d1",
            "d2",
            F.coalesce("common_neighbors", F.lit(0)).alias("common_neighbors"),
            F.expr(
                "floor(round(coalesce(aa, 0.0), 10) * 1000000) / 1000000"
            ).alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), "d1", "d2")
        .limit(100)
    )


ORACLE["graph_adamic_adar"] = f"""
WITH {_GRAPH_SQL},
deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY 1),
scored AS (
  SELECT p.d1, p.d2, count(*) AS cn, sum(1.0 / ln(dw.deg)) AS aa
  FROM pairs p
  JOIN edges e1 ON e1.a = p.d1
  JOIN edges e2 ON e2.a = p.d2 AND e2.b = e1.b
  JOIN deg dw ON dw.a = e1.b
  WHERE e1.b != p.d1 AND e1.b != p.d2
  GROUP BY 1, 2
)
SELECT p.d1, p.d2,
       CAST(coalesce(s.cn, 0) AS BIGINT) AS common_neighbors,
       floor(round(coalesce(s.aa, 0.0), 10) * 1000000) / 1000000 AS adamic_adar
FROM pairs p
LEFT JOIN scored s ON s.d1 = p.d1 AND s.d2 = p.d2
ORDER BY adamic_adar DESC, p.d1, p.d2
LIMIT 100
"""


EIGEN_ITERS = 3


def eigenvector_centrality_fixed(
    edges: DataFrame, src: str, dst: str, iters: int = EIGEN_ITERS
) -> DataFrame:
    """Eigenvector centrality by FIXED-iteration power method with L1
    normalization: x ← A·x, x ← x/Σx, unrolled ``iters`` times from
    the uniform vector. L1 (not the textbook L2) keeps every step a
    plain sum — exactly SQL-expressible, so the oracle replays it
    bit-for-bit; the induced ranking is identical (normalization is a
    positive scalar). Distinct from PageRank: no damping and no
    out-degree division, so high-degree neighbors transfer FULL
    weight — the "popular friends make you popular" centrality.
    Each iteration is one edge join + node aggregation + one scalar
    broadcast of the L1 norm; the score frame stays node-sized."""
    e = _undirected(edges, src, dst)
    nodes = e.select(F.col("a")).distinct()
    n = nodes.count()
    x = nodes.select("a", F.lit(1.0 / n).alias("x"))
    for _ in range(iters):
        agg = (
            e.join(x, "a")
            .select(F.col("b").alias("a"), F.col("x"))
            .groupBy("a")
            .agg(F.sum("x").alias("s"))
        )
        # The raw frame feeds BOTH sides of the normalization (the
        # scores and their L1 norm); an eager node-sized checkpoint
        # pins it so each side reads the materialized result instead
        # of replaying the whole lineage — without it the double
        # reference doubles the recompute per iteration (2^iters
        # blowup). Three node-sized checkpoints, each one edge join.
        raw = (
            nodes.join(agg, "a", "left")
            .select("a", F.coalesce("s", F.lit(0.0)).alias("s"))
            .localCheckpoint()
        )
        x = raw.crossJoin(
            F.broadcast(raw.agg(F.sum("s").alias("tot")))
        ).select("a", (F.col("s") / F.col("tot")).alias("x"))
    return x.select(F.col("a").alias("node"), F.col("x"))


def graph_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration L1 power method over the near-dup graph — surfaces
    the documents sitting at the dense core of duplicate clusters."""
    ec = eigenvector_centrality_fixed(_pairs(spark, sf_dir), "d1", "d2", iters=EIGEN_ITERS)
    return ec.select(
        "node",
        F.expr("floor(round(x, 10) * 100000000) / 100000000").alias("centrality"),
    ).orderBy(F.col("centrality").desc(), "node")


ORACLE["graph_eigenvector_centrality"] = f"""
WITH {_GRAPH_SQL},
x0n AS (
  SELECT a, 1.0 / (SELECT count(DISTINCT a) FROM edges) AS x
  FROM (SELECT DISTINCT a FROM edges)
),
{",".join(f'''
x{i} AS (
  SELECT nd.a, coalesce(sum(x.x), 0) AS s
  FROM (SELECT DISTINCT a FROM edges) nd
  LEFT JOIN edges e ON e.b = nd.a
  LEFT JOIN x{i - 1}n x ON x.a = e.a
  GROUP BY nd.a
),
x{i}n AS (
  SELECT a, s / (SELECT sum(s) FROM x{i}) AS x FROM x{i}
)''' for i in range(1, EIGEN_ITERS + 1))}
SELECT a AS node,
       floor(round(x, 10) * 100000000) / 100000000 AS centrality
FROM x{EIGEN_ITERS}n ORDER BY centrality DESC, node
"""


QUERIES = {
    "graph_conductance": graph_conductance,
    "graph_adamic_adar": graph_adamic_adar,
    "graph_eigenvector_centrality": graph_eigenvector_centrality,
    "graph_modularity": graph_modularity,
    "graph_clustering_agreement": graph_clustering_agreement,
    "graph_label_propagation": graph_label_propagation,
    "graph_assortativity": graph_assortativity,
    "dedup_components": dedup_components,
    "graph_node_jaccard": graph_node_jaccard,
    "graph_kcore": graph_kcore,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_keep_best": dedup_keep_best,
    "graph_pagerank": graph_pagerank,
    "graph_degree_distribution": graph_degree_distribution,
    "graph_triangle_count": graph_triangle_count,
}
