"""Graph analytics over join-derived edge tables (SURVEY §2.11,
graph family).

The star schema induces natural graphs: the customer<->supplier
bipartite purchase graph (distinct (o_custkey, l_suppkey) pairs via
orders x lineitem) and the part co-purchase graph (parts appearing
on the same order). Connected components already exist as
q_dedup_groups' minhash-edge CC; this module adds the other classic
graph kernels, each expressed as pure DataFrame joins/aggs so they
shuffle on edge endpoints and never materialize adjacency on the
driver.

Scale notes (100 TB):
- Edge derivation is a distinct-projection of the fact join: one
  shuffle, output |E| << |lineitem|.
- Triangle counting uses the DEGREE-ORDERED orientation (each
  undirected edge directed from its lower-degree endpoint,
  tie-broken by id): every wedge join then fans out by the SMALLER
  degree, bounding work at O(sum deg(v) * min-deg) = O(E^1.5) for
  arbitrary skew (the standard heavy-hitter-safe formulation) while
  counting each triangle exactly once.
- PageRank runs a FIXED number of supersteps as chained
  join+aggregate stages - one shuffle per iteration, rank state is
  (node, double) only. The unbounded-iteration variant would
  materialize each superstep (localCheckpoint) exactly like
  q_dedup_groups' CC loop; with k=3 fixed, the declarative chain
  stays within Catalyst's analysis budget and needs no
  materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..loaders import load
from ..registry import register
from ..session import superstep_checkpoint
from . import ranks

_EDGES_SQL = """
    SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _bipartite_edges(t) -> DataFrame:
    """Distinct customer->supplier purchase pairs (one shuffle)."""
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )


@register(
    "q_graph_degree",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    cdeg AS (SELECT ck, count(*) AS degree FROM edges GROUP BY ck),
    sdeg AS (SELECT sk, count(*) AS degree FROM edges GROUP BY sk)
    SELECT 'customer' AS side, degree, count(*) AS n_nodes FROM cdeg GROUP BY degree
    UNION ALL
    SELECT 'supplier' AS side, degree, count(*) AS n_nodes FROM sdeg GROUP BY degree
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the bipartite purchase graph, per side:
    how many customers (suppliers) have exactly d distinct partners.
    The first diagnostic of any graph workload - it decides whether
    the triangle/PR joins below need skew handling.

    Scale shape: edge distinct (one shuffle) -> per-endpoint count
    (map-side partial) -> tiny histogram agg. Never adjacency lists.
    """
    e = _bipartite_edges(load(spark, sf_dir))
    cd = e.groupBy("ck").agg(F.count("*").alias("degree"))
    sd = e.groupBy("sk").agg(F.count("*").alias("degree"))
    return (
        cd.groupBy("degree")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.lit("customer").alias("side"), "degree", "n_nodes")
        .unionAll(
            sd.groupBy("degree")
            .agg(F.count("*").alias("n_nodes"))
            .select(F.lit("supplier").alias("side"), "degree", "n_nodes")
        )
    )


_COPURCHASE_SQL = """
    SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    WHERE a.l_quantity >= 35 AND b.l_quantity >= 35
"""


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH edges AS ({_COPURCHASE_SQL})
    SELECT count(*) AS n_triangles,
           (SELECT count(*) FROM edges) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e1.pb = e2.pa
    JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-purchase graph (high-quantity
    lines on the same order). Triangles measure clustering; at corpus
    scale the same kernel powers community detection and spam-graph
    heuristics.

    Scale shape: the naive id-ordered wedge join (the oracle's form)
    fans out quadratically on heavy nodes. Here each edge is instead
    ORIENTED from its lower-(degree, id) endpoint, so wedges are
    enumerated from each node's out-neighborhood whose size is
    <= sqrt(|E|) regardless of skew; the closing-edge join then
    checks orientation-agnostic adjacency. Both orderings count each
    triangle exactly once, so the count matches the oracle while the
    heavy-hitter wedge explosion disappears.
    """
    t = load(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_quantity") >= 35).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    # und feeds FOUR consumers (deg twice, the orientation join,
    # n_edges) and e feeds three (both wedge sides, the closing
    # union): un-materialized, the lineitem self-join subtree
    # replicated ~16x in one static plan (84 parquet scans) and each
    # reference re-ran the post-exchange stages. Two lazy
    # localCheckpoints (r14, the pagerank superstep class) run the
    # self-join and the orientation once each.
    und = superstep_checkpoint(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )
    # degree in the undirected graph (each edge touches both ends)
    deg = (
        und.select(F.col("pa").alias("node"))
        .unionAll(und.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = superstep_checkpoint(
        und.join(F.broadcast(deg).alias("da"), F.col("pa") == F.col("da.node"))
        .join(F.broadcast(deg).alias("db"), F.col("pb") == F.col("db.node"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("pa") < F.col("pb"))),
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
            )
            .otherwise(F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst")))
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    n_edges = und.agg(F.count("*").alias("n_edges"))
    e1, e2 = e.alias("e1"), e.alias("e2")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("y"),
        F.col("e2.dst").alias("z"),
    )
    # closing edge may be oriented either way relative to the wedge
    closing = e.select(
        F.col("src").alias("cx"), F.col("dst").alias("cz")
    ).unionAll(e.select(F.col("dst").alias("cx"), F.col("src").alias("cz")))
    tri = (
        wedges.join(
            closing,
            (F.col("x") == F.col("cx")) & (F.col("z") == F.col("cz")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return tri.crossJoin(n_edges)  # 1 row x 1 row


_PR_EDGES_SQL = """
    SELECT 'C' || CAST(ck AS VARCHAR) AS src, 'S' || CAST(sk AS VARCHAR) AS dst
    FROM ({base}) e
    UNION ALL
    SELECT 'S' || CAST(sk AS VARCHAR) AS src, 'C' || CAST(ck AS VARCHAR) AS dst
    FROM ({base}) e
""".format(base=_EDGES_SQL)


@register(
    "q_graph_pagerank",
    oracle=f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS pr FROM nodes),
    pr1 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM n) + 0.85 * sum(p.pr / d.outdeg) AS pr
      FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst),
    pr2 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM n) + 0.85 * sum(p.pr / d.outdeg) AS pr
      FROM edges e JOIN pr1 p ON e.src = p.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst),
    pr3 AS (
      SELECT e.dst AS node,
             0.15 / (SELECT n FROM n) + 0.85 * sum(p.pr / d.outdeg) AS pr
      FROM edges e JOIN pr2 p ON e.src = p.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst)
    SELECT node, round(pr, 6) AS pagerank
    FROM pr3 ORDER BY round(pr, 6) DESC, node LIMIT 20
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, exactly 3 supersteps from the uniform
    start) on the symmetrized customer<->supplier purchase graph;
    top-20 nodes. Output node ids are 'C<custkey>' / 'S<suppkey>'
    since the two keyspaces overlap (internally signed bigints, see
    the inline note). Symmetrizing removes dangling nodes by
    construction (every node in the edge set has out-degree >= 1),
    so no dangling-mass redistribution term is needed.

    Scale shape: each superstep is one shuffle - edges join the
    (node, pr) state on src (state is broadcastable when |V| is
    small, shuffled otherwise; AQE picks), contributions partially
    aggregate map-side on dst. k is FIXED so the plan is a finite
    declarative chain; for convergence-driven iteration counts the
    CC pattern applies (materialize each superstep, stop on a
    driver-side delta check). Final ranks rounded to 6dp BEFORE the
    top-20 cut with node-id tie-break -> deterministic boundary.
    """
    t = load(spark, sf_dir)
    # The edge list is read ~5x (nodes, N, 3 supersteps).
    # Materialization strategy MEASURED at sf0.1: persist() DOUBLES
    # steady-state (10-13 s vs 5.2 s plain - the InMemoryTableScan
    # boundary blocks whole-stage fusion and AQE broadcast
    # re-planning), but localCheckpoint WINS (3.8 s): checkpointed
    # blocks replay as a plain scan with truncated lineage, exactly
    # like q_dedup_groups' CC supersteps. eager=False defers only the
    # block-writing job to the first real action; under AQE the
    # builder still runs the edge build's shuffle stages when it
    # checkpoints (3 jobs in a traced perfbench run), plan-only
    # consumers such as the plan audit included. At 100 TB the
    # same role is played by writing the edge list to parquet once
    # and iterating over that scan.
    #
    # ONE checkpoint job, not two (r14, guide §2.4): r13 checkpointed
    # the distinct bipartite pairs AND the outdeg-folded edge table -
    # the first existed only because (a) symmetrization read bip
    # twice (unionAll) and (b) outdeg needed an edges⋈deg self-join.
    # Symmetrizing via explode (each pair emits both directions in
    # one pass) and folding outdeg with a count window over src
    # (hash-partition + in-partition sort, no join, no second read)
    # collapse the whole edge build into one linear pipeline behind a
    # single checkpoint: fact join -> distinct -> explode -> window.
    # Interleaved A/B at sf0.1: 7/8 paired reps faster, median
    # -1.27 s (~4.3 s -> ~3.0 s under ambient steal); top-20
    # byte-identical.
    #
    # Signed-bigint node ids INTERNALLY (customers ck+1, suppliers
    # -(sk+1) - the q_graph_bfs_levels encoding): every superstep
    # shuffles/joins on the node key, and 8-byte long keys measured
    # 29% faster than the 'C<k>'/'S<k>' strings end-to-end at sf0.1
    # (interleaved A/B medians 3.38s vs 4.74s, byte-identical top-20,
    # r8). The string ids the oracle sorts on are reconstructed in
    # the final projection only. outdeg is kept (not pre-reciprocaled)
    # so pr/outdeg is bitwise identical to the oracle's division
    # order.
    c = (F.col("ck") + 1).cast("bigint")
    s = (-(F.col("sk") + 1)).cast("bigint")
    edges = _bipartite_edges(t).select(
        F.explode(
            F.array(
                F.struct(c.alias("src"), s.alias("dst")),
                F.struct(s.alias("src"), c.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges_w = superstep_checkpoint(
        edges.withColumn(
            "outdeg",
            F.count("*").over(Window.partitionBy("src")).cast("double"),
        )
    )
    nodes = edges_w.select(F.col("src").alias("node")).distinct()
    n = nodes.agg(F.count("*").cast("double").alias("n"))
    # state_0: uniform 1/N (N delivered in-plan via a 1-row cross join)
    pr = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            edges_w.join(pr, edges_w["src"] == pr["node"])
            .select(F.col("dst"), (F.col("pr") / F.col("outdeg")).alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("inflow"))
        )
        pr = contrib.crossJoin(F.broadcast(n)).select(
            F.col("dst").alias("node"),
            (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("inflow")).alias("pr"),
        )
    node_str = F.when(
        F.col("node") > 0,
        F.concat(F.lit("C"), (F.col("node") - 1).cast("string")),
    ).otherwise(
        F.concat(F.lit("S"), (-F.col("node") - 1).cast("string"))
    )
    return (
        pr.select(node_str.alias("node"), F.round("pr", 6).alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "node")
        .limit(20)
    )


@register(
    "q_graph_label_prop",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    clab AS (
      SELECT c_custkey AS ck, n_name AS label
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    svotes AS (
      SELECT e.sk, c.label, CAST(count(*) AS BIGINT) AS n
      FROM edges e JOIN clab c ON e.ck = c.ck
      GROUP BY e.sk, c.label
    ),
    slab AS (
      SELECT sk, label, n FROM (
        SELECT *, row_number() OVER (
          PARTITION BY sk ORDER BY n DESC, label) AS rn
        FROM svotes) WHERE rn = 1
    ),
    cvotes AS (
      SELECT e.ck, s.label, CAST(count(*) AS BIGINT) AS n
      FROM edges e JOIN slab s ON e.sk = s.sk
      GROUP BY e.ck, s.label
    ),
    clab2 AS (
      SELECT ck, label, n FROM (
        SELECT *, row_number() OVER (
          PARTITION BY ck ORDER BY n DESC, label) AS rn
        FROM cvotes) WHERE rn = 1
    )
    SELECT 'S' || CAST(sk AS VARCHAR) AS node, label, n AS n_votes
    FROM slab
    UNION ALL
    SELECT 'C' || CAST(ck AS VARCHAR) AS node, label, n AS n_votes
    FROM clab2
    """,
)
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-superstep LABEL PROPAGATION on the customer<->supplier
    purchase graph, seeded with customer nations: supersteps adopt
    each node's most-frequent neighbor label (ties -> smallest
    label) - step 1 labels every supplier with the nation that
    dominates its customer base, step 2 re-labels customers with the
    dominant label of their suppliers. The community-detection
    primitive (and the label-denoising shape weak supervision uses),
    with the same fixed-superstep declarative-chain rule as
    q_graph_pagerank.

    Scale shape: each superstep is one edges><labels equi-join whose
    vote counts partially aggregate map-side on the destination key,
    then a WindowGroupLimit-able rank-1 cut per node; label state is
    (node, label) rows only. Deterministic: votes tie-break on label
    text, so the fixpoint is a pure function of the graph.
    """
    t = load(spark, sf_dir)
    bip = superstep_checkpoint(_bipartite_edges(t))
    clab = (
        t["customer"]
        .join(
            F.broadcast(t["nation"]),
            t["customer"]["c_nationkey"] == t["nation"]["n_nationkey"],
        )
        .select(F.col("c_custkey").alias("ck"), F.col("n_name").alias("label"))
    )

    def adopt(edges: DataFrame, labels: DataFrame, src: str, dst: str) -> DataFrame:
        """One superstep: dst nodes adopt their most-common src label."""
        votes = (
            edges.join(labels, src)
            .groupBy(dst, "label")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy(dst).orderBy(F.col("n").desc(), "label")
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(dst, "label", F.col("n").alias("n_votes"))
        )

    from pyspark.sql import Window

    slab = adopt(bip, clab, "ck", "sk")
    clab2 = adopt(bip, slab.select("sk", "label"), "sk", "ck")
    s_out = slab.select(
        F.concat(F.lit("S"), F.col("sk").cast("string")).alias("node"),
        "label",
        "n_votes",
    )
    c_out = clab2.select(
        F.concat(F.lit("C"), F.col("ck").cast("string")).alias("node"),
        "label",
        "n_votes",
    )
    return s_out.unionByName(c_out)


JACC_TOPK = 20     # reported pairs
JACC_MIN_COMMON = 2  # candidate gate: at least 2 shared customers


@register(
    "q_graph_jaccard_neighbors",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    deg AS (SELECT sk, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY sk),
    common AS (
      SELECT a.sk AS sa, b.sk AS sb, CAST(count(*) AS BIGINT) AS i
      FROM edges a JOIN edges b
        ON a.ck = b.ck AND a.sk < b.sk
      GROUP BY a.sk, b.sk
      HAVING count(*) >= {JACC_MIN_COMMON}
    )
    SELECT sa, sb, i AS n_common,
           round(CAST(i AS DOUBLE) / (da.d + db.d - i), 6) AS jaccard
    FROM common JOIN deg da ON sa = da.sk JOIN deg db ON sb = db.sk
    ORDER BY CAST(i AS DOUBLE) / (da.d + db.d - i) DESC, sa, sb
    LIMIT {JACC_TOPK}
    """,
)
def q_graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural neighbor similarity: the top-20 supplier pairs by
    Jaccard overlap of their CUSTOMER neighborhoods in the bipartite
    purchase graph - "these two suppliers serve the same customers"
    (substitutability / link prediction, the common-neighbors kernel
    every recommender baseline starts from).

    Scale shape: the pair candidates come from the INVERTED-INDEX
    self-join on the shared customer (equi on ck, s < s orientation
    halves it) - the same shape as q_dedup_near_jaccard's shingle
    index, so work is sum over customers of deg^2, NOT |S|^2; the
    >= 2-common gate drops the singleton-overlap tail before the
    degree joins; degrees broadcast (|suppliers| rows); jaccard is
    integer-ratio arithmetic, ordered exactly with (sa, sb)
    tie-breaks, and only the reported ratio is rounded. 100 TB: cap
    hub customers (deg > ~1k) exactly as the dedup family caps hot
    shingles - the pinned df-cap pattern.
    """
    t = load(spark, sf_dir)
    # e feeds both self-join sides AND the degree agg (3 consumers):
    # checkpoint so the fact-join edge derivation runs once (r14).
    e = superstep_checkpoint(_bipartite_edges(t))
    deg = e.groupBy("sk").agg(F.count("*").cast("bigint").alias("d"))
    a = e.alias("a")
    b = e.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck")) & (F.col("a.sk") < F.col("b.sk")),
        )
        .groupBy(F.col("a.sk").alias("sa"), F.col("b.sk").alias("sb"))
        .agg(F.count("*").cast("bigint").alias("i"))
        .filter(F.col("i") >= JACC_MIN_COMMON)
    )
    da = deg.select(F.col("sk").alias("sa"), F.col("d").alias("da"))
    db = deg.select(F.col("sk").alias("sb"), F.col("d").alias("db"))
    jac = F.col("i").cast("double") / (F.col("da") + F.col("db") - F.col("i"))
    return (
        common.join(F.broadcast(da), "sa")
        .join(F.broadcast(db), "sb")
        .select(
            "sa",
            "sb",
            F.col("i").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
            jac.alias("_ord"),
        )
        .orderBy(F.desc("_ord"), "sa", "sb")
        .limit(JACC_TOPK)
        .drop("_ord")
    )


REACH_SEED_NATION = 0  # seed: customers of nation 0


@register(
    "q_graph_reach_2hop",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    seed AS (
      SELECT c_custkey AS ck FROM customer
      WHERE c_nationkey = {REACH_SEED_NATION}
    ),
    hop1 AS (
      SELECT DISTINCT e.sk FROM edges e JOIN seed s ON e.ck = s.ck
    ),
    hop2_ck AS (
      SELECT DISTINCT e.ck FROM edges e JOIN hop1 h ON e.sk = h.sk
    ),
    hop2 AS (
      SELECT DISTINCT e.sk FROM edges e JOIN hop2_ck c ON e.ck = c.ck
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM seed) AS n_seed_customers,
           (SELECT CAST(count(*) AS BIGINT) FROM hop1) AS n_suppliers_1hop,
           (SELECT CAST(count(*) AS BIGINT) FROM hop2_ck) AS n_customers_2hop,
           (SELECT CAST(count(*) AS BIGINT) FROM hop2) AS n_suppliers_3hop
    """,
)
def q_graph_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-depth reachability over the bipartite purchase graph:
    starting from nation-0's customers, how many suppliers are one
    purchase-hop away, how many customers share a supplier with them
    (2 hops), and how many suppliers those reach (3 hops) - the
    blast-radius / influence-frontier query (supply-chain exposure,
    contagion analysis), expressed as a FIXED chain of distinct
    equi-join expansions exactly like q_graph_pagerank's fixed
    supersteps.

    Scale shape: each hop is one equi join against the distinct edge
    list followed by a dedup - shuffle on the join key, frontier
    only (never paths); depth is fixed so the plan is a finite
    declarative chain. The four counts are scalar subqueries over
    the shared frontier CTEs.
    """
    t = load(spark, sf_dir)
    # e feeds all three hop expansions: checkpoint so the fact-join
    # edge derivation runs once, not per hop (r14).
    e = superstep_checkpoint(_bipartite_edges(t))
    seed = (
        t["customer"]
        .filter(F.col("c_nationkey") == REACH_SEED_NATION)
        .select(F.col("c_custkey").alias("ck"))
    )
    hop1 = e.join(seed, "ck").select("sk").distinct()
    hop2_ck = e.join(hop1, "sk").select("ck").distinct()
    hop2 = e.join(hop2_ck, "ck").select("sk").distinct()
    return (
        seed.agg(F.count("*").cast("bigint").alias("n_seed_customers"))
        .crossJoin(
            hop1.agg(F.count("*").cast("bigint").alias("n_suppliers_1hop"))
        )
        .crossJoin(
            hop2_ck.agg(F.count("*").cast("bigint").alias("n_customers_2hop"))
        )
        .crossJoin(
            hop2.agg(F.count("*").cast("bigint").alias("n_suppliers_3hop"))
        )
    )


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    cdeg AS (SELECT ck, CAST(count(*) AS BIGINT) AS dc
             FROM edges GROUP BY ck),
    sdeg AS (SELECT sk, CAST(count(*) AS BIGINT) AS ds
             FROM edges GROUP BY sk),
    pairs AS (
      SELECT CAST(c.dc AS DOUBLE) AS x, CAST(s.ds AS DOUBLE) AS y
      FROM edges e JOIN cdeg c ON e.ck = c.ck JOIN sdeg s ON e.sk = s.sk
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pairs
    )
    SELECT m AS n_edges,
           round((m * sxy - sx * sy)
                 / nullif(sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)),
                          0), 6) AS assortativity
    FROM sums
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the bipartite purchase graph: the
    Pearson correlation between endpoint degrees ACROSS EDGES (do
    high-degree customers buy from high-degree suppliers?) - the
    one-number mixing summary that predicts whether the heavy
    hitters concentrate load (positive) or spread it (negative),
    i.e. whether the triangle/pagerank joins above need skew
    handling.

    Scale shape: two endpoint degree aggs (map-side combinable)
    joined back onto the edge list - degrees are tiny tables, AQE
    broadcasts; the correlation is the q_stats_ols_trend power-sum
    discipline over the edge frame. Degree products are exact
    integer-valued doubles; only the final irrational ratio rounds.
    """
    t = load(spark, sf_dir)
    # e feeds both degree aggs and the rejoin (3 consumers):
    # checkpoint so the fact-join edge derivation runs once (r14).
    e = superstep_checkpoint(_bipartite_edges(t))
    cdeg = e.groupBy("ck").agg(F.count("*").cast("bigint").alias("dc"))
    sdeg = e.groupBy("sk").agg(F.count("*").cast("bigint").alias("ds"))
    pairs = (
        e.join(F.broadcast(cdeg), "ck")
        .join(F.broadcast(sdeg), "sk")
        .select(
            F.col("dc").cast("double").alias("x"),
            F.col("ds").cast("double").alias("y"),
        )
    )
    sums = pairs.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("m").alias("n_edges"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


BFS_SEED_CUSTOMER = 1  # BFS root: customer 1 in the purchase graph
BFS_MAX_DEPTH = 8      # identical depth cap in both engines
# Frontier/visited rows (one bigint each) up to which the superstep
# joins use an explicit broadcast: a checkpointed frontier scans as
# ExistingRDD with NO size stats, so without the hint every superstep
# sort-merge-shuffles the FULL edge table (measured 9.0 s -> 4.0 s at
# sf0.1 with the hint). 4M nodes ~ 32 MB broadcast - and the exact
# frontier size is already in hand from the drain-check count, so the
# switch costs nothing and degrades to the shuffle join on graphs
# whose frontier outgrows the driver.
BFS_BROADCAST_MAX_NODES = 4_000_000


@register(
    "q_graph_bfs_levels",
    oracle=f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS MATERIALIZED (
      SELECT ck + 1 AS a, -(sk + 1) AS b FROM e0
      UNION
      SELECT -(sk + 1) AS a, ck + 1 AS b FROM e0
    ),
    bfs(node, level) AS (
      SELECT CAST({BFS_SEED_CUSTOMER} + 1 AS BIGINT), 0
      UNION
      SELECT e.b, bfs.level + 1
      FROM bfs JOIN edges e ON e.a = bfs.node
      WHERE bfs.level < {BFS_MAX_DEPTH}
    ),
    lv AS (SELECT node, min(level) AS level FROM bfs GROUP BY node)
    SELECT CAST(level AS BIGINT) AS level,
           CAST(count(*) FILTER (WHERE node > 0) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (WHERE node < 0) AS BIGINT) AS n_suppliers
    FROM lv GROUP BY level
    """,
)
def q_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest-path levels from one seed customer over the
    bipartite customer<->supplier purchase graph, reported as
    per-level frontier sizes (levels alternate sides: odd levels are
    suppliers, even levels customers) - the hop-distance kernel
    missing between q_graph_reach_2hop's FIXED 3-hop chain and
    q_dedup_groups' components: an UNBOUNDED frontier expansion that
    stops when the frontier drains, capped at 8 supersteps (the
    identical depth bound the oracle's recursive CTE carries).
    Customer and supplier keyspaces overlap AND both contain key 0
    (where -0 = 0 would collide), so nodes are SIGNED OFFSET ids:
    +(custkey+1) / -(suppkey+1), pure integer arithmetic.

    Oracle note: the one key whose DuckDB twin is a genuine
    WITH RECURSIVE - recursive-UNION dedup against all prior
    (node, level) rows terminates on the level-capped finite state
    space, and min(level) per node equals first-reach level exactly
    like the superstep loop's anti-join.

    Scale shape: edge derivation is one distinct projection over the
    fact join, localCheckpointed once (the pagerank discipline);
    each superstep is frontier><edges + anti-join vs visited with a
    bounded frontier-empty count exit (<= depth checks, the
    q_dedup_groups precedent). The frontier/visited sides carry an
    explicit broadcast hint while their EXACT count (free - the
    drain check already counts every level) stays under
    BFS_BROADCAST_MAX_NODES: a checkpointed frontier scans with no
    stats, so without the hint every superstep sort-merge-shuffles
    the full edge table (r10 measured 9.0 -> 4.0 s at sf0.1). Past
    the bound the joins degrade to the shuffle-on-node-id form,
    state = (node, level) only. 100 TB: supersteps never touch the
    fact table again; per-level counts are a <= depth-row agg of the
    visited set.
    """
    t = load(spark, sf_dir)
    e0 = (
        t["orders"]
        .select("o_orderkey", "o_custkey")
        .join(
            t["lineitem"].select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey").cast("bigint") + 1).alias("ck"),
            (-(F.col("l_suppkey").cast("bigint") + 1)).alias("sk"),
        )
        .distinct()
    )
    # Explode-symmetrize (r14, the pagerank edge-build pattern): the
    # unionAll form computed the fact join TWICE inside the
    # checkpoint build; one explode pass emits both directions. The
    # old trailing .distinct() was redundant (e0 is distinct, so each
    # orientation is unique, and the two orientations cannot collide:
    # a>0 XOR a<0 by the signed encoding) - dropping it removes one
    # full-edge exchange from the build job.
    edges = superstep_checkpoint(
        e0.select(
            F.explode(
                F.array(
                    F.struct(F.col("ck").alias("a"), F.col("sk").alias("b")),
                    F.struct(F.col("sk").alias("a"), F.col("ck").alias("b")),
                )
            ).alias("e")
        ).select("e.a", "e.b")
    )
    seed = spark.range(1).select(
        (F.lit(BFS_SEED_CUSTOMER).cast("bigint") + 1).alias("node"),
        F.lit(0).cast("bigint").alias("level"),
    )
    visited = seed
    frontier = seed.select("node")
    # Exact sizes are free here (the drain check counts every level),
    # so the small side of each superstep join carries an explicit
    # broadcast hint while it fits: the checkpointed frontier scans
    # as ExistingRDD with no stats, and without the hint Spark
    # sort-merge-shuffles the full edge table EVERY level (r10
    # measured: 9.0 s -> 4.0 s at sf0.1). Past the bound the joins
    # degrade to the shuffle form - the 100 TB posture for a frontier
    # that outgrows the driver.
    n_front, n_visited = 1, 1
    small = lambda df, n: (  # noqa: E731
        F.broadcast(df) if n <= BFS_BROADCAST_MAX_NODES else df
    )
    for lvl in range(1, BFS_MAX_DEPTH + 1):
        nxt = superstep_checkpoint(
            edges.join(small(frontier, n_front), edges["a"] == frontier["node"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(small(visited.select("node"), n_visited), "node", "left_anti")
            .select("node", F.lit(lvl).cast("bigint").alias("level"))
        )
        # Bounded driver action (<= BFS_MAX_DEPTH checks) - the
        # documented CC-loop exception to the no-collect rule. The
        # checkpoint above also makes the count PAY for itself: nxt
        # materializes once instead of once for the drain check and
        # again inside the visited union.
        n_front = nxt.count()
        if n_front == 0:
            break
        n_visited += n_front
        visited = superstep_checkpoint(visited.unionAll(nxt))
        frontier = nxt.select("node")
    return visited.groupBy("level").agg(
        F.sum(F.when(F.col("node") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_customers"),
        F.sum(F.when(F.col("node") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_suppliers"),
    )


HITS_TOPK = 10  # authorities reported


@register(
    "q_graph_hits",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    auth1 AS (
      SELECT sk, CAST(count(*) AS BIGINT) AS a1 FROM e0 GROUP BY sk
    ),
    hub1 AS (
      SELECT ck, CAST(sum(a1) AS BIGINT) AS h1
      FROM e0 JOIN auth1 USING (sk) GROUP BY ck
    ),
    auth2 AS (
      SELECT sk, CAST(sum(h1) AS BIGINT) AS a2
      FROM e0 JOIN hub1 USING (ck) GROUP BY sk
    ),
    tot AS (SELECT sum(a2) AS t FROM auth2)
    SELECT CAST(sk AS BIGINT) AS s_suppkey, a2 AS auth_score,
           CAST(a2 AS DOUBLE) / t AS auth_share
    FROM auth2 CROSS JOIN tot
    ORDER BY a2 DESC, sk
    LIMIT {HITS_TOPK}
    """,
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the bipartite purchase graph
    (customers = hubs, suppliers = authorities), two exact
    supersteps, reporting the top-10 authority suppliers - the
    mutual-reinforcement centrality that PageRank (random surfer)
    does not capture: a supplier is authoritative when BOUGHT BY
    customers who buy from many authoritative suppliers.

    Determinism protocol: hub_0 = 1 for every customer, so
    auth_1 = indegree, hub_1 = sum of neighbor auth_1, and
    auth_2 = sum of neighbor hub_1 are ALL exact int64 (no
    per-superstep L2 normalization, which is a positive scalar and
    cannot change the ranking within a fixed iteration count);
    auth_share is ONE division of exact int64s, reported UNROUNDED
    (functions/exact.py). Ties broken by supplier id.

    Scale shape: edge derivation is one distinct projection of the
    fact join, localCheckpointed once and reused by all three
    superstep aggregations (the q_graph_pagerank discipline); each
    superstep is edges><state + groupBy endpoint - one shuffle,
    state = (node, int64) only; final top-k is
    TakeOrderedAndProject. 100 TB: identical shape; unbounded
    iteration counts switch the state to per-superstep-normalized
    doubles to bound magnitudes (int64 exactness here is the
    determinism protocol for the fixed-2-superstep contract, safe
    through sf >= 1).
    """
    t = load(spark, sf_dir)
    edges = superstep_checkpoint(_bipartite_edges(t))
    auth1 = edges.groupBy("sk").agg(
        F.count("*").cast("bigint").alias("a1")
    )
    hub1 = (
        edges.join(auth1, "sk")
        .groupBy("ck")
        .agg(F.sum("a1").cast("bigint").alias("h1"))
    )
    auth2 = (
        edges.join(hub1, "ck")
        .groupBy("sk")
        .agg(F.sum("h1").cast("bigint").alias("a2"))
    )
    tot = auth2.agg(F.sum("a2").alias("t"))
    return (
        auth2.crossJoin(F.broadcast(tot))
        .select(
            F.col("sk").cast("bigint").alias("s_suppkey"),
            F.col("a2").alias("auth_score"),
            (F.col("a2").cast("double") / F.col("t")).alias("auth_share"),
        )
        .orderBy(F.desc("auth_score"), "s_suppkey")
        .limit(HITS_TOPK)
    )


KCORE_PCT = 0.05     # K = exact 5th-percentile initial degree
KCORE_MIN_QTY = 35   # same strong-co-purchase filter as q_graph_triangles
KCORE_MAX_ROUNDS = 15


@register("q_graph_kcore")  # rows-only: iterative peeling has no SQL twin
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core of the part co-purchase graph (parts are adjacent when
    they appear on the same order): repeatedly peel every node whose
    degree IN THE SURVIVING SUBGRAPH is < K until a fixed point -
    the densest-region extractor behind community seeding and graph
    cleaning. K is the exact DISCRETE 5th-percentile initial degree
    (index floor(0.05*(n-1)) of the ascending degree list): this
    graph is a near-random bipartite projection, so its k-core
    collapses SHARPLY - on the UNFILTERED co-purchase graph every
    probed K at/above the 10th percentile peels the graph empty at
    every SF (p10..p60 all -> core 0), and a fixed absolute K (110)
    is empty at sf0.001; p05 on the l_quantity>=35 strong-tie graph
    (the q_graph_triangles filter, ~19x fewer edges) keeps a large
    core through a 1-3 round cascade at every SF AND cut the sf0.1
    wall from 28.3 s (10 rounds, 2.3M symmetric edges) to a few
    seconds - both measurements recorded here. The bipartite
    purchase graph was probed and rejected too - supplier degrees
    (~500) vs customer degrees (~30) make any single K a one-round
    no-op on one side.

    No SQL oracle BY DESIGN: peeling recomputes degrees over a set
    that shrinks as a function of the previous round (a recursive
    CTE may reference the recursive table only once in its step, and
    degree counting needs the alive set on both edge endpoints);
    correctness is pinned by tests/test_pipeline_props.py's Python
    peeling reference plus the q_dedup_groups-style invariant that
    every surviving node has core degree >= K (min_core_degree in
    the output row).

    Scale shape: the co-purchase edge list is one self-join of
    lineitem on orderkey (fan-out bounded by items-per-order^2) +
    distinct, localCheckpointed; the K-pick cumsums the degree
    HISTOGRAM (|distinct degrees| <= 2*sqrt|E| rows) with the
    bucketed two-pass helper (operators/ranks.py - fully parallel,
    no single-task sort) and collects exactly one row;
    each round is ONE job: semi-prune the ORIGINAL checkpointed edge
    list by the latest alive set (alive sets are monotone, so the
    latest prune subsumes the chain) + one degree agg, checkpointing
    only the |nodes|-row degree frame - and that frame's row count
    IS the previous round's convergence check (old |u(pruned
    edges)|), so the former per-round edge checkpoint AND the
    distinct-count shuffle are gone (r11, VERDICT r10 #4: the
    per-round fixed cost behind the 4.9->25.1 s x1->x10 wall;
    measured after: x10 25.1->6.3 s, x100 58.1->26.2 s,
    byte-identical output incl. n_rounds). Rounds
    stay bounded by the <= KCORE_MAX_ROUNDS cap with a bounded
    .count() per round. Both eager driver actions are declared in
    plans/audit.py::BOUNDED_DRIVER_ACTIONS and their subtrees are
    plan-audited like returned plans. 100 TB: identical; coreness
    DECOMPOSITION (all k) would iterate the same kernel with k
    ascending.
    """
    t = load(spark, sf_dir)
    li = t["lineitem"].filter(F.col("l_quantity") >= KCORE_MIN_QTY).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    a, b = li.alias("a"), li.alias("b")
    half = (
        a.join(b, (F.col("a.ok") == F.col("b.ok"))
               & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .distinct()
    )
    # Explode-symmetrize (r14, the pagerank edge-build pattern): the
    # unionAll form computed the lineitem self-join TWICE inside the
    # checkpoint build; one explode pass emits both directions.
    edges = superstep_checkpoint(
        half.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
    )
    # Checkpointed: feeds the K-pick histogram AND doubles as the
    # peeling loop's first-round degree frame D_1 (r11 - one agg
    # saved; the frame is |nodes| rows).
    deg0 = superstep_checkpoint(
        edges.groupBy("u").agg(F.count("*").alias("d"))
    )
    # K pick + loop-convergence counts are the documented bounded
    # driver actions (BOUNDED_DRIVER_ACTIONS in plans/audit.py): one
    # 1-row collect for K, <= KCORE_MAX_ROUNDS counts for the
    # fixpoint. The K-pick subtree itself is the bucketed two-pass
    # distributed rank (r8, VERDICT r7 #1 - the old
    # row_number/count-over-() pick was a single-task global sort
    # over the |nodes| degree frame, executed at BUILD time where the
    # returned-plan audit could not see it).
    # Exact discrete percentile WITHOUT ranking |nodes| rows: the pick
    # only needs the smallest degree whose cumulative node count
    # reaches rank floor(p*(n-1))+1, so rank the degree HISTOGRAM
    # (|distinct degrees| <= 2*sqrt|E| rows - sum of k distinct
    # positive degrees is >= k(k+1)/2 <= 2|E|) and cumsum the counts.
    # buckets=8: the histogram is tiny relative to the fact tables,
    # and the 64-bucket cut chain's codegen compile dominates at this
    # frame size (measured r8: 1.8s vs 0.85s for the whole pick).
    dh = deg0.groupBy("d").agg(F.count("*").alias("c"))
    cum = ranks.global_order(
        dh, "d", [F.col("d")], cumsum={"c": "cum"}, buckets=8
    )
    tot = dh.agg(F.sum("c").alias("_n"))
    k_row = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.floor(KCORE_PCT * (F.col("_n") - 1)) + 1)
        .agg(F.min("d").alias("d"))
        .collect()
    )
    k = int(k_row[0]["d"]) if k_row and k_row[0]["d"] is not None else 1
    # r11 peeling loop (VERDICT r10 #4): ONE job per round over a
    # NODE-sized frame, replacing the r10 shape (edge-sized
    # localCheckpoint + degree shuffle + pruned-edge distinct-count
    # shuffle per round - the measured per-round fixed cost behind
    # the 4.9->25.1 s x1->x10 wall). Two observations make the
    # output byte-identical:
    # 1. Alive sets are MONOTONE (alive_r is only reachable through
    #    edges between alive_{r-1} nodes), so pruning the ORIGINAL
    #    checkpointed edge list by the LATEST alive set equals the
    #    old chained prunes - per-round edge materialization is
    #    unnecessary; only the degree frame (|nodes| rows) persists.
    # 2. The old convergence count |u(pruned edges_r)| IS the next
    #    round's degree-frame ROW COUNT, so each iteration's single
    #    agg serves as both the new degrees and the previous round's
    #    convergence check - the per-round distinct() shuffle
    #    disappears. Iteration i computes D_i = degrees of
    #    prune(E0, A_{i-1}); n_i = |D_i| = old n_{i-1}; break at
    #    n_i == n_{i-1} reproduces the old break at rounds = i-1
    #    (already-a-k-core graphs break at i=2 with rounds=1, the
    #    old round-1 break). The cap runs one extra degree agg
    #    (MAX+1 aggs for MAX rounds) to deliver the final frame.
    deg = deg0  # D_1: degrees of the full graph (checkpointed above)
    prev_n = deg.count()
    rounds = KCORE_MAX_ROUNDS
    for i in range(2, KCORE_MAX_ROUNDS + 2):
        alive = deg.filter(F.col("d") >= k).select("u")
        cur = edges.join(alive, "u", "left_semi").join(
            alive.select(F.col("u").alias("v")), "v", "left_semi"
        )
        deg = superstep_checkpoint(
            cur.groupBy("u").agg(F.count("*").alias("d"))
        )
        # Bounded driver action (<= KCORE_MAX_ROUNDS + 1 checks) -
        # the documented CC-loop exception to the no-collect rule.
        n = deg.count()
        if n == prev_n:
            rounds = i - 1
            break
        prev_n = n
    return deg.select("u", F.col("d").cast("bigint").alias("d")).agg(
        F.lit(k).cast("bigint").alias("k"),
        F.lit(rounds).cast("bigint").alias("n_rounds"),
        F.count("*").cast("bigint").alias("n_core_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_core_edges"),
        F.min("d").alias("min_core_degree"),
        F.avg(F.col("d").cast("double")).alias("avg_core_degree"),
    )


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM edges),
    cnat AS (SELECT c_custkey AS ck, c_nationkey AS nk FROM customer),
    snat AS (SELECT s_suppkey AS sk, s_nationkey AS nk FROM supplier),
    cdeg AS (SELECT ck, CAST(count(*) AS BIGINT) AS deg
             FROM edges GROUP BY ck),
    sdeg AS (SELECT sk, CAST(count(*) AS BIGINT) AS deg
             FROM edges GROUP BY sk),
    dsum AS (
      SELECT nk, CAST(sum(deg) AS BIGINT) AS deg_sum FROM (
        SELECT c.nk, d.deg FROM cdeg d JOIN cnat c ON d.ck = c.ck
        UNION ALL
        SELECT s.nk, d.deg FROM sdeg d JOIN snat s ON d.sk = s.sk
      ) GROUP BY nk
    ),
    intra AS (
      SELECT c.nk, CAST(count(*) AS BIGINT) AS m_intra
      FROM edges e JOIN cnat c ON e.ck = c.ck
                   JOIN snat s ON e.sk = s.sk
      WHERE c.nk = s.nk GROUP BY c.nk
    ),
    comm AS (
      SELECT d.nk, COALESCE(i.m_intra, 0) AS m_intra, d.deg_sum
      FROM dsum d LEFT JOIN intra i ON d.nk = i.nk
    ),
    g AS (
      SELECT CAST(sum(m_intra) AS BIGINT) AS mc_sum,
             CAST(sum(deg_sum * deg_sum) AS BIGINT) AS d2_sum
      FROM comm
    )
    SELECT n.n_name AS community,
           CAST(c.m_intra AS BIGINT) AS m_intra,
           c.deg_sum,
           CAST(c.m_intra AS DOUBLE) / m.m
             - (CAST(c.deg_sum AS DOUBLE) / (2 * m.m))
               * (CAST(c.deg_sum AS DOUBLE) / (2 * m.m)) AS q_term,
           CAST(4 * m.m * g.mc_sum - g.d2_sum AS DOUBLE)
             / (4 * m.m * m.m) AS modularity
    FROM comm c CROSS JOIN m CROSS JOIN g
    JOIN nation n ON c.nk = n.n_nationkey
    ORDER BY community
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the bipartite
    customer-supplier purchase graph: Q = sum_c [ m_c/m -
    (D_c/2m)^2 ] - how much denser within-nation trading is than a
    degree-preserving random rewiring predicts, the objective every
    community-detection pass (q_graph_label_prop) climbs. Reported
    per community (intra-edge count, degree mass, q_term) with the
    global Q broadcast onto each row.

    Exactness: every input is an int64 count, and Q collapses to a
    SINGLE integer ratio: (4*m*sum_c(m_c) - sum_c(D_c^2)) / (4*m^2)
    - exact int64 numerator/denominator (headroom: D_c^2 needs
    D_c < 3e9, i.e. ~1000x this graph's degree mass; beyond that the
    sums drop to doubles, documented trade), ONE IEEE division, so
    both engines agree bit-for-bit UNROUNDED. Per-community q_term
    uses the identical two-division expression tree in both engines.

    Scale shape: the edge list is built once (the q_graph_degree
    shuffle); degrees are two-phase aggs; the nation maps ride as
    broadcast joins onto the edge and degree frames; the community
    frame is 25 rows - every division runs on it. At 100 TB nothing
    changes: one edge-list pass, two-phase aggs, tiny-dim
    broadcasts.
    """
    t = load(spark, sf_dir)
    # e feeds FOUR consumers (m, cdeg, sdeg, intra): checkpoint so
    # the fact join runs once, not per consumer (r14 - the docstring
    # promise "edge list built once" was only true per STAGE before;
    # the un-materialized plan carried 46 parquet scans).
    e = superstep_checkpoint(_bipartite_edges(t))
    cnat = t["customer"].select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk")
    )
    snat = t["supplier"].select(
        F.col("s_suppkey").alias("sk"), F.col("s_nationkey").alias("nk")
    )
    m = e.agg(F.count("*").cast("bigint").alias("m"))
    cdeg = e.groupBy("ck").agg(F.count("*").cast("bigint").alias("deg"))
    sdeg = e.groupBy("sk").agg(F.count("*").cast("bigint").alias("deg"))
    dsum = (
        cdeg.join(F.broadcast(cnat), "ck")
        .select("nk", "deg")
        .unionAll(sdeg.join(F.broadcast(snat), "sk").select("nk", "deg"))
        .groupBy("nk")
        .agg(F.sum("deg").cast("bigint").alias("deg_sum"))
    )
    intra = (
        e.join(F.broadcast(cnat), "ck")
        .join(
            F.broadcast(snat.withColumnRenamed("nk", "snk")), "sk"
        )
        .filter(F.col("nk") == F.col("snk"))
        .groupBy("nk")
        .agg(F.count("*").cast("bigint").alias("m_intra"))
    )
    comm = dsum.join(intra, "nk", "left").select(
        "nk",
        F.coalesce("m_intra", F.lit(0)).cast("bigint").alias("m_intra"),
        "deg_sum",
    )
    g = comm.agg(
        F.sum("m_intra").cast("bigint").alias("mc_sum"),
        F.sum(F.col("deg_sum") * F.col("deg_sum"))
        .cast("bigint")
        .alias("d2_sum"),
    )
    nat = t["nation"].select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("community")
    )
    b = F.col("deg_sum").cast("double") / (2 * F.col("m"))
    return (
        comm.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(g))
        .join(F.broadcast(nat), "nk")
        .select(
            "community",
            "m_intra",
            "deg_sum",
            (
                F.col("m_intra").cast("double") / F.col("m") - b * b
            ).alias("q_term"),
            (
                (
                    4 * F.col("m") * F.col("mc_sum") - F.col("d2_sum")
                ).cast("double")
                / (4 * F.col("m") * F.col("m"))
            ).alias("modularity"),
        )
        .orderBy("community")
    )


@register(
    "q_graph_louvain_round",
    oracle=f"""
    WITH edges0 AS ({_EDGES_SQL}),
    cnat AS (SELECT 'C' || CAST(c_custkey AS VARCHAR) AS node,
                    c_nationkey AS comm FROM customer),
    snat AS (SELECT 'S' || CAST(s_suppkey AS VARCHAR) AS node,
                    s_nationkey AS comm FROM supplier),
    lab AS (SELECT * FROM cnat UNION ALL SELECT * FROM snat),
    ed AS (
      SELECT 'C' || CAST(ck AS VARCHAR) AS u,
             'S' || CAST(sk AS VARCHAR) AS v FROM edges0
      UNION ALL
      SELECT 'S' || CAST(sk AS VARCHAR), 'C' || CAST(ck AS VARCHAR)
      FROM edges0
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM ed),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS k FROM ed GROUP BY u),
    tot AS (
      SELECT l.comm, CAST(sum(d.k) AS BIGINT) AS sigma
      FROM deg d JOIN lab l ON d.u = l.node GROUP BY l.comm
    ),
    kuc AS (
      SELECT e.u, lv.comm, CAST(count(*) AS BIGINT) AS k_uc
      FROM ed e JOIN lab lv ON e.v = lv.node
      GROUP BY e.u, lv.comm
    ),
    cand AS (
      SELECT k.u, k.comm, k.k_uc, d.k, lu.comm AS own, t.sigma, m.two_m
      FROM kuc k
      JOIN deg d ON k.u = d.u
      JOIN lab lu ON k.u = lu.node
      JOIN tot t ON k.comm = t.comm
      CROSS JOIN m
    ),
    scored AS (
      SELECT u, comm, own,
             round(k_uc - CAST(k AS DOUBLE)
                   * (sigma - CASE WHEN comm = own THEN k ELSE 0 END)
                   / two_m, 9) AS gain
      FROM cand
    ),
    winner AS (
      SELECT u, own, comm AS new_comm FROM (
        SELECT *, row_number() OVER (
          PARTITION BY u ORDER BY gain DESC, comm) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT n.n_name AS community,
           CAST(sum(CASE WHEN w.own = n.n_nationkey
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN w.new_comm = n.n_nationkey
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
           CAST(sum(CASE WHEN w.own = n.n_nationkey
                         AND w.new_comm <> w.own
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_left
    FROM winner w JOIN nation n
      ON n.n_nationkey IN (w.own, w.new_comm)
    GROUP BY n.n_name ORDER BY community
    """,
)
def q_graph_louvain_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One SYNCHRONOUS Louvain local-move round (Blondel 2008, the
    modularity-climbing step) from the nation seeding: every node
    evaluates, for each NEIGHBOR community c, the modularity gain
    score k_{u,c} - k_u * (Sigma_tot(c) - [c = own] k_u) / 2m and
    adopts the argmax (gain DESC, community-id tie-break) - the
    greedy move that q_graph_modularity's Q is the objective FOR
    and q_graph_label_prop approximates without degree weighting.
    Synchronous (all nodes decide against the OLD labels) by
    design: sequential Louvain is order-dependent and
    unreproducible distributed; the synchronous variant is the
    standard Spark/Giraph adaptation. Output: per community,
    membership before/after and departures.

    Exactness: k_uc / k / Sigma / 2m are exact int64 from two-phase
    aggs; the gain is ONE division composed identically in both
    engines and rounded 9dp BEFORE the argmax (the q_sim_ann_ivf
    rounded-argmax protocol) so the winner is engine-stable.

    Scale shape: edge list x labels = two broadcast-able dim joins;
    kuc is one (u, comm) two-phase agg; candidates join per-node
    constants (deg, own) and the 25-row totals - one shuffle keyed
    on u; argmax prunes in-shuffle via WindowGroupLimit. Further
    rounds = re-seed labels from `winner` and repeat (the CC-loop
    pattern); 100 TB: identical shapes per round.
    """
    t = load(spark, sf_dir)
    # The symmetric edge list feeds THREE consumers (2m, deg, kuc):
    # localCheckpoint once (lazy - the pagerank protocol) so the
    # orders><lineitem derivation runs once, not per consumer (the
    # un-checkpointed plan re-scanned the fact tables 23 times,
    # caught by the plan survey). r14: edges carry SIGNED-BIGINT node
    # ids (customers ck+1, suppliers -(sk+1) - the pagerank/BFS
    # encoding) instead of 'C<k>'/'S<k>' strings: every agg and
    # shuffle below keys on u/v, and 8-byte longs beat ~8-char
    # strings on shuffle bytes and hash cost (the r8 pagerank A/B;
    # here stash-interleaved medians 2.77s -> 2.55s at sf0.1,
    # oracle hash-match at all three SFs). Symmetrization is one
    # explode pass instead of a double unionAll read, and the
    # string form is never built at all - `comm` is already the
    # integer nationkey and the output joins nation names at the
    # very end.
    c = (F.col("ck") + 1).cast("bigint")
    s = (-(F.col("sk") + 1)).cast("bigint")
    ed = superstep_checkpoint(
        _bipartite_edges(t).select(
            F.explode(
                F.array(
                    F.struct(c.alias("u"), s.alias("v")),
                    F.struct(s.alias("u"), c.alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
    )
    lab = (
        t["customer"]
        .select(
            (F.col("c_custkey") + 1).cast("bigint").alias("node"),
            F.col("c_nationkey").alias("comm"),
        )
        .unionAll(
            t["supplier"].select(
                (-(F.col("s_suppkey") + 1)).cast("bigint").alias("node"),
                F.col("s_nationkey").alias("comm"),
            )
        )
    )
    m = ed.agg(F.count("*").cast("bigint").alias("two_m"))
    deg = ed.groupBy("u").agg(F.count("*").cast("bigint").alias("k"))
    tot = (
        deg.join(F.broadcast(lab), F.col("u") == F.col("node"))
        .groupBy("comm")
        .agg(F.sum("k").cast("bigint").alias("sigma"))
    )
    kuc = (
        ed.join(
            F.broadcast(lab.withColumnRenamed("node", "vn")),
            F.col("v") == F.col("vn"),
        )
        .groupBy("u", "comm")
        .agg(F.count("*").cast("bigint").alias("k_uc"))
    )
    own = lab.select(
        F.col("node").alias("ou"), F.col("comm").alias("own")
    )
    cand = (
        kuc.join(deg, "u")
        .join(F.broadcast(own), F.col("u") == F.col("ou"))
        .join(F.broadcast(tot.withColumnRenamed("comm", "tc")),
              F.col("comm") == F.col("tc"))
        .crossJoin(F.broadcast(m))
    )
    gain = F.round(
        F.col("k_uc")
        - F.col("k").cast("double")
        * (
            F.col("sigma")
            - F.when(F.col("comm") == F.col("own"), F.col("k")).otherwise(0)
        )
        / F.col("two_m"),
        9,
    )
    w = Window.partitionBy("u").orderBy(F.desc("gain"), "comm")
    winner = (
        cand.select("u", "comm", "own", gain.alias("gain"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("u", "own", F.col("comm").alias("new_comm"))
    )
    nat = t["nation"].select(
        F.col("n_nationkey").alias("nk"), F.col("n_name").alias("community")
    )
    return (
        winner.join(
            F.broadcast(nat),
            F.col("nk").isin(F.col("own"), F.col("new_comm")),
        )
        .groupBy("community")
        .agg(
            F.sum(F.when(F.col("own") == F.col("nk"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_before"),
            F.sum(
                F.when(F.col("new_comm") == F.col("nk"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_after"),
            F.sum(
                F.when(
                    (F.col("own") == F.col("nk"))
                    & (F.col("new_comm") != F.col("own")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_left"),
        )
        .orderBy("community")
    )


@register(
    "q_graph_centralization",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(sum(d) AS BIGINT) AS deg FROM (
        SELECT 'C' || CAST(ck AS VARCHAR) AS node, count(*) AS d
        FROM edges GROUP BY ck
        UNION ALL
        SELECT 'S' || CAST(sk AS VARCHAR), count(*)
        FROM edges GROUP BY sk
      ) GROUP BY node
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(max(deg) AS BIGINT) AS dmax,
             CAST(sum(deg) AS BIGINT) AS dsum
      FROM deg
    )
    SELECT n, dmax,
           CAST(dsum AS DOUBLE) / n AS mean_degree,
           CAST(n * dmax - dsum AS DOUBLE)
             / (CAST(n - 1 AS DOUBLE) * (n - 2)) AS centralization
    FROM g
    """,
)
def q_graph_centralization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freeman degree centralization of the purchase graph:
    sum(d_max - d_i) / ((n-1)(n-2)) - the [0,1] "how star-like is
    this network" summary (0 = regular, 1 = perfect star), the
    one-number companion to q_graph_degree's full distribution and
    q_graph_assortativity's mixing coefficient: hub-dominated
    purchase graphs are exactly where skew-salted joins
    (q_join_skew_salted) earn their keep, and this is the metric
    that says so.

    Exactness: degrees / n / max / sum all exact int64 (note
    sum(d_max - d_i) = n*d_max - sum d, so no per-node second
    pass); ONE division, unrounded.

    Scale shape: the q_graph_degree shuffle -> 1-row min/max agg ->
    arithmetic. 100 TB: identical.
    """
    t = load(spark, sf_dir)
    # e feeds the two per-side degree aggs (2 consumers): checkpoint
    # so the fact-join edge derivation runs once (r14).
    e = superstep_checkpoint(_bipartite_edges(t))
    deg = (
        e.groupBy(F.concat(F.lit("C"), F.col("ck").cast("string")).alias("node"))
        .agg(F.count("*").alias("d"))
        .unionAll(
            e.groupBy(
                F.concat(F.lit("S"), F.col("sk").cast("string")).alias("node")
            ).agg(F.count("*").alias("d"))
        )
        .groupBy("node")
        .agg(F.sum("d").cast("bigint").alias("deg"))
    )
    g = deg.agg(
        F.count("*").cast("bigint").alias("n"),
        F.max("deg").cast("bigint").alias("dmax"),
        F.sum("deg").cast("bigint").alias("dsum"),
    )
    return g.select(
        "n",
        "dmax",
        (F.col("dsum").cast("double") / F.col("n")).alias("mean_degree"),
        (
            (F.col("n") * F.col("dmax") - F.col("dsum")).cast("double")
            / ((F.col("n") - 1).cast("double") * (F.col("n") - 2))
        ).alias("centralization"),
    )
