"""Graph analytics over the near-duplicate similarity graph: PageRank.

Extends the §2.4 dedup surface (SURVEY.md): connected components answer
"which docs are the same"; PageRank over the same Jaccard edge set ranks
docs by how central they are inside a duplicate family — the canonical-
representative picker for crawl mirrors and template clusters (keep the
hub, drop the satellites).

Integer-exact formulation: ranks live in BIGINT micro-units and every
per-edge contribution is an integer floor division, so two engines
replay the iterations bit-for-bit — the same determinism discipline as
the decimal-exact k-means oracle (operators/similarity.py).

Scale design: each iteration is (edges ⋈ ranks on src) → groupBy dst —
two keyed shuffles on the edge relation, no driver data, no lineage
growth past the bounded unrolled iteration count. At 100 TB the edge
set is bucketed by src so the per-iteration join co-locates; the rank
side is the only thing that moves.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..session import session_conf
from .dedup import _JACCARD_EDGES_CTES, _jaccard_edges

N_ITERATIONS = 2
DAMPING_PCT = 85            # d = 0.85, held as an integer percentage
INIT_RANK_MICRO = 1_000_000  # rank 1.0 in micro-units
BASE_RANK_MICRO = 150_000    # (1 - d) in micro-units


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (``N_ITERATIONS`` iterations, integer micro-unit arithmetic)
    over the symmetric Jaccard≥0.5 edge graph.

    Every node in the edge set has out-degree ≥ 1 (edges are symmetric),
    so there is no dangling-mass term; floor division loses mass
    deterministically, which both engines reproduce exactly.
    """
    edges = _jaccard_edges(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(INIT_RANK_MICRO).cast("bigint").alias("r")
    )
    for _ in range(N_ITERATIONS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(r * {DAMPING_PCT}) div ({100} * deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            deg.select(F.col("src").alias("node"))
            .join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(BASE_RANK_MICRO) + F.coalesce(F.col("c"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
        )
    return (
        ranks.join(deg, ranks.node == deg.src)
        .select(
            F.col("node").alias("doc_id"),
            F.col("r").alias("rank_micro"),
            F.col("deg").cast("int").alias("degree"),
        )
    )


def _ddb_pagerank_step(k: int) -> str:
    """DuckDB CTEs ``c{k}``/``r{k}``: iteration ``k`` from ``r{k-1}``, with
    ``graph_pagerank``'s integer floor divisions."""
    return f"""c{k} AS (
  SELECT e.dst AS node, SUM((r.r * {DAMPING_PCT}) // (100 * d.deg)) AS c
  FROM edges e JOIN r{k - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
r{k} AS (
  SELECT d.src AS node,
         CAST({BASE_RANK_MICRO} + COALESCE(c{k}.c, 0) AS BIGINT) AS r
  FROM deg d LEFT JOIN c{k} ON c{k}.node = d.src
)"""


def _graph_pagerank_sql(iterations: int) -> str:
    """The oracle for ``graph_pagerank`` at ``iterations`` steps over the
    shared Jaccard edge prelude: one generated step per iteration, so it
    follows ``N_ITERATIONS``."""
    steps = ",\n".join(_ddb_pagerank_step(k) for k in range(1, iterations + 1))
    last = f"r{iterations}"
    return f"""
WITH
{_JACCARD_EDGES_CTES},
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST({INIT_RANK_MICRO} AS BIGINT) AS r FROM deg),
{steps}
SELECT {last}.node AS doc_id, {last}.r AS rank_micro, CAST(deg.deg AS INT) AS degree
FROM {last} JOIN deg ON deg.src = {last}.node
"""


GRAPH_PAGERANK_SQL = _graph_pagerank_sql(N_ITERATIONS)


BFS_SEED_MOD = 10   # seeds = edge-graph nodes with doc_id % 10 == 0
BFS_MAX_HOPS = 3    # bounded frontier expansion (graph diameter cap)


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop levels (§2.4 graph family): minimum hop
    distance from a deterministic seed set over the symmetric Jaccard
    edge graph, capped at BFS_MAX_HOPS — the reachability/blast-radius
    primitive (e.g. "everything within 3 similarity hops of a known-bad
    document").

    Iterative frontier expansion: each hop is ONE keyed join (frontier ⋈
    edges on src) plus an anti-join against the visited set — the
    standard Pregel step expressed relationally. The loop is bounded (no
    convergence probe needed), lineage stays shallow (≤3 rounds, no
    checkpoint required), and at 100 TB the edge relation is bucketed by
    src so only the (small) frontier moves per round.

    The oracle replays it as a DuckDB recursive CTE with UNION-dedup and
    the same hop cap, then takes MIN(level) per node.
    """
    edges = _jaccard_edges(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    visited = nodes.filter(F.col("node") % BFS_SEED_MOD == 0).select(
        "node", F.lit(0).cast("int").alias("level")
    )
    frontier = visited.select("node")
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("level"))
        )
        visited = visited.union(nxt)
        frontier = nxt.select("node")
    return visited.select(F.col("node").alias("doc_id"), "level")


# Oracle: the shared Jaccard edge prelude, then a hop-capped
# recursive CTE; UNION (not UNION ALL) dedups (node, lvl) states so the
# recursion is bounded even inside cliques.
GRAPH_BFS_LEVELS_SQL = f"""
WITH RECURSIVE
{_JACCARD_EDGES_CTES},
bfs(node, lvl) AS (
  SELECT DISTINCT src, 0 FROM edges WHERE src % {BFS_SEED_MOD} = 0
  UNION
  SELECT e.dst, b.lvl + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.lvl < {BFS_MAX_HOPS}
)
SELECT node AS doc_id, CAST(MIN(lvl) AS INT) AS level
FROM bfs
GROUP BY node
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient over the Jaccard
    edge graph (§2.4 graph family): the cohesion probe for duplicate
    families — near-clique clusters (template farms) triangle densely,
    chains (drifting revisions) don't.

    Canonical-orientation join: triangles are enumerated ONLY as
    a < b < c (each counted once), so the self-join fans out on ordered
    edges — the standard compact-forward trick that keeps the join's
    per-key fan-in at the out-degree of the ordered graph, not the full
    degree. Two keyed equi-joins on the edge relation, one scalar agg;
    wedges come from the symmetric degree in one more keyed agg. At
    100 TB the ordered edge set is bucketed by its join key and the
    high-degree hubs are already halved by orientation (a hub's ordered
    out-degree excludes every smaller neighbor).

    Output pins integers plus the clustering coefficient = 3T/W as a
    decimal-rounded double (single division — identical IEEE tree both
    engines); a graph with no wedges gets a NULL coefficient, as DuckDB's
    division by zero gives."""
    sym = _jaccard_edges(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    e = sym.filter(F.col("src") < F.col("dst"))  # canonical a<b, each edge once
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = e.select(F.col("src").alias("a2"), F.col("dst").alias("c2"))
    tri = (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wedges = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy()
        .agg(
            F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
    )
    return (
        tri.join(F.broadcast(wedges))
        .select(
            "n_triangles",
            "n_wedges",
            "n_nodes",
            F.try_divide(3 * F.col("n_triangles"), F.col("n_wedges"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("clustering_coeff"),
        )
    )


# Oracle: the shared Jaccard edge prelude; triangles via the ordered
# a<b<c double join; wedges from symmetric degrees.
GRAPH_TRIANGLE_COUNT_SQL = f"""
WITH
{_JACCARD_EDGES_CTES},
e AS (SELECT src, dst FROM edges WHERE src < dst),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e ab JOIN e bc ON ab.dst = bc.src
            JOIN e ac ON ac.src = ab.src AND ac.dst = bc.dst
),
wedges AS (
  SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
         COUNT(*) AS n_nodes
  FROM (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
)
SELECT n_triangles, n_wedges, n_nodes,
       CAST(CAST(3 * n_triangles / n_wedges AS DECIMAL(18,6)) AS DOUBLE)
         AS clustering_coeff
FROM tri, wedges
"""


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the Jaccard near-dup graph (§2.4 graph
    family — Newman's r): the Pearson correlation of endpoint degrees
    over all directed edges. Positive r = hubs link hubs (template-farm
    clusters fused together); negative r = hubs link leaves (one
    canonical page with many drifted copies) — tells a dedup operator
    which cleanup strategy the duplicate topology wants.

    Plan: degrees are one keyed agg over the shared (memoized) edge
    build; attaching both endpoint degrees is two keyed joins on the
    edge stream; the correlation comes from EXACT integer moment sums
    (degrees are ints — no decimal needed) folded in ONE
    map-side-combining pass, with the agg_stats_moments IEEE tree for
    the final doubles. Symmetric edge set ⇒ the two marginals coincide,
    which the oracle replicates by construction. Zero degree variance
    (every endpoint has the same degree) leaves r undefined: NULL, as in
    the oracle."""
    sym = _jaccard_edges(spark, sf_dir)
    deg = sym.groupBy("doc_a").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("doc_a").alias("node"), "deg"
    )
    da = deg.select(F.col("node").alias("doc_a"), F.col("deg").alias("dx"))
    db = deg.select(F.col("node").alias("doc_b"), F.col("deg").alias("dy"))
    e = sym.join(da, "doc_a").join(db, "doc_b")
    sums = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    n = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = F.try_divide(
        sxy - (sx * sy) / n,
        F.sqrt(sxx - (sx * sx) / n) * F.sqrt(syy - (sy * sy) / n),
    )
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        sums.crossJoin(F.broadcast(nodes))
        .select(
            F.col("m").alias("n_directed_edges"),
            "n_nodes",
            corr.cast("decimal(18,6)").cast("double").alias("assortativity"),
            (sx / n).cast("decimal(18,6)").cast("double").alias("mean_edge_degree"),
        )
    )


GRAPH_ASSORTATIVITY_SQL = f"""
WITH
{_JACCARD_EDGES_CTES},
deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY 1),
joined AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM edges e JOIN deg da ON da.node = e.src JOIN deg db ON db.node = e.dst
),
sums AS (
  SELECT COUNT(*) AS m,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dx*dx) AS BIGINT) AS sxx,
         CAST(SUM(dy) AS BIGINT) AS sy, CAST(SUM(dy*dy) AS BIGINT) AS syy,
         CAST(SUM(dx*dy) AS BIGINT) AS sxy
  FROM joined
),
d AS (
  SELECT m, CAST(m AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(sy AS DOUBLE) AS syd, CAST(syy AS DOUBLE) AS syyd,
         CAST(sxy AS DOUBLE) AS sxyd
  FROM sums
)
SELECT m AS n_directed_edges,
       (SELECT COUNT(*) FROM deg) AS n_nodes,
       CAST(CAST((sxyd - (sxd * syd) / nd)
                 / (SQRT(sxxd - (sxd * sxd) / nd) * SQRT(syyd - (syd * syd) / nd))
            AS DECIMAL(18,6)) AS DOUBLE) AS assortativity,
       CAST(CAST(sxd / nd AS DECIMAL(18,6)) AS DOUBLE) AS mean_edge_degree
FROM d
"""


K_CORE_K = 2        # keep nodes with degree ≥ 2 (cycles, not pendant pairs)
K_CORE_ROUNDS = 4   # bounded peel rounds, unrolled identically in the oracle


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k={K_CORE_K}, {K_CORE_ROUNDS} peel rounds)
    of the Jaccard near-dup graph (§2.4 graph family): the density
    filter that separates tight template-farm clusters (every member has
    ≥ k near-dup siblings → survives peeling) from chains and pendant
    pairs (peeled away). Standard corpus-curation use: 2-core members
    are "boilerplate families" to collapse aggressively; peeled nodes
    are drift pairs to adjudicate individually.

    Plan: each peel round is one keyed degree agg + two semi-joins on
    the edge relation — all shuffles keyed on node id, no driver data.
    The round count is FIXED and unrolled in both engines (converged or
    not, the two sides compute the identical bounded iteration — the
    PageRank determinism discipline). Each round ``localCheckpoint``s
    the shrinking edge set: lineage would otherwise double per round
    (the CC-loop lesson, PLANS.md). At 100 TB the edge set is bucketed
    by src; rounds after the first touch only the surviving subgraph,
    which shrinks geometrically on real dup topologies."""
    edges = (
        _jaccard_edges(spark, sf_dir)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .localCheckpoint(eager=True)
    )
    for _ in range(K_CORE_ROUNDS):
        alive = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= K_CORE_K)
            .select("src")
        )
        edges = (
            edges.join(alive, "src", "left_semi")
            .join(alive.select(F.col("src").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("core_deg")
    )


def _kcore_round_sql(r: int) -> str:
    return f"""
a{r} AS (SELECT src FROM e{r - 1} GROUP BY src HAVING COUNT(*) >= {K_CORE_K}),
e{r} AS (
  SELECT e.src, e.dst FROM e{r - 1} e
  WHERE e.src IN (SELECT src FROM a{r}) AND e.dst IN (SELECT src FROM a{r})
)"""


GRAPH_KCORE_SQL = f"""
WITH
{_JACCARD_EDGES_CTES},
e0 AS (SELECT src, dst FROM edges),
{",".join(_kcore_round_sql(r) for r in range(1, K_CORE_ROUNDS + 1))}
SELECT src AS node, COUNT(*) AS core_deg
FROM e{K_CORE_ROUNDS} GROUP BY src
"""


LINK_PRED_TOP_N = 20   # report the strongest predicted non-edges only
COPURCHASE_MIN_W = 2   # edge = parts co-ordered in >= 2 distinct orders


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (§2.4 graph family) over the part
    co-purchase graph (edge = two parts appearing in the same order in
    ≥ {COPURCHASE_MIN_W} distinct orders): for every NON-adjacent pair
    sharing neighbors, count shared co-purchase partners and score with
    the neighborhood Jaccard cn / (deg_a + deg_b − cn). The top-N are
    "products likely bought together that never were" — recommendation
    candidates. (The near-dup Jaccard graph is the wrong substrate here:
    its components are cliques, so every wedge is closed and link
    prediction is vacuously empty — verified at sf0.01.)

    Plan: the bipartite projection self-joins distinct (order, part)
    keyed on the ORDER key, so fan-out per key is bounded by order size
    (≤ 7 lineitems in TPC-H-shaped data) — never quadratic in parts; the
    wedge join keys on the shared endpoint with fan-in bounded by part
    degree; existing edges leave via a keyed LEFT ANTI join; only the
    final top-N passes the global rank window (per-partition top-N + one
    tiny merge at scale — the topk_orders pattern)."""
    li = (
        Catalog(spark, sf_dir)
        .table("lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, "k")
        .filter(F.col("pa") != F.col("pb"))
        .groupBy(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= COPURCHASE_MIN_W)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    ab = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    cn = (
        ab.join(bc, "b")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    exist = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("c")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    cand = (
        cn.join(exist, ["a", "c"], "left_anti")
        .join(deg.select(F.col("src").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("src").alias("c"), F.col("deg").alias("dc")), "c")
    )
    w = Window.orderBy(F.desc("cn"), F.asc("a"), F.asc("c"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= LINK_PRED_TOP_N)
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            "cn",
            F.col("da").cast("int").alias("deg_a"),
            F.col("dc").cast("int").alias("deg_b"),
            (F.col("cn") / (F.col("da") + F.col("dc") - F.col("cn")))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("neighbor_jaccard"),
            "rank",
        )
    )


GRAPH_LINK_PREDICTION_SQL = f"""
WITH
li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS MATERIALIZED (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {COPURCHASE_MIN_W}
),
cn AS (
  SELECT ab.src AS a, bc.dst AS c, COUNT(*) AS cn
  FROM edges ab JOIN edges bc ON ab.dst = bc.src
  WHERE ab.src < bc.dst
  GROUP BY 1, 2
),
deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
cand AS (
  SELECT cn.a, cn.c, cn.cn, da.deg AS da, dc.deg AS dc
  FROM cn
  JOIN deg da ON da.node = cn.a
  JOIN deg dc ON dc.node = cn.c
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = cn.a AND e.dst = cn.c)
),
ranked AS (
  SELECT a, c, cn, da, dc,
         ROW_NUMBER() OVER (ORDER BY cn DESC, a ASC, c ASC) AS rank
  FROM cand
)
SELECT a AS part_a, c AS part_b, cn,
       CAST(da AS INT) AS deg_a, CAST(dc AS INT) AS deg_b,
       CAST(CAST(cn / (da + dc - cn) AS DECIMAL(18,6)) AS DOUBLE)
         AS neighbor_jaccard,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {LINK_PRED_TOP_N}
"""


def _modularity_ladder(
    edges: DataFrame, rungs: list[tuple[str, DataFrame, int]]
) -> DataFrame:
    """Newman modularity of several partitions of one directed edge list
    (s, t), one output row per rung ``(method, labels (node, c),
    n_moved)``, in one plan.

    Each rung's labels are tagged with its method, so ONE labels join on
    (method, endpoint) serves every rung. A groupBy on (method, c) gives
    D_c (edges leaving c) and e_c (edges inside c) in one aggregate; a
    groupBy on method folds them with E = Σ_c D_c, since
    q_num = Σ_c (e_c·E − D_c²) = E·Σe_c − ΣD_c². The driver-side
    n_moved values enter as one local row per rung in that last
    groupBy, which also keeps one row per rung on an edgeless graph
    (n_communities 0, NULL E and q_num, as the oracles' global aggs)."""
    labels = reduce(
        DataFrame.unionByName,
        (lab.select(F.lit(method).alias("method"), "node", "c")
         for method, lab, _ in rungs),
    )
    ls = labels.select("method", F.col("node").alias("s"), F.col("c").alias("cs"))
    lt = labels.select("method", F.col("node").alias("t"), F.col("c").alias("ct"))
    per_c = (
        edges.join(ls, "s")
        .join(lt, ["method", "t"])
        .groupBy("method", "cs")
        .agg(
            F.count(F.lit(1)).alias("d_c"),
            F.sum((F.col("cs") == F.col("ct")).cast("long")).alias("e_c"),
        )
    )
    # built from literals, not createDataFrame: a Python-side local list
    # would start a Python worker to feed the JVM
    pads = [
        F.struct(F.lit(method).alias("method"), F.lit(n).cast("long").alias("n_moved"))
        for method, _, n in rungs
    ]
    moved = edges.sparkSession.range(1).select(F.inline(F.array(*pads)))
    e = F.col("n_directed_edges")
    q_num = e * F.col("e_in") - F.col("d_sq")
    return (
        per_c.unionByName(moved, allowMissingColumns=True)
        .groupBy("method")
        .agg(
            F.count("cs").alias("n_communities"),
            F.max("n_moved").alias("n_moved"),
            F.sum("d_c").alias("n_directed_edges"),
            F.sum("e_c").alias("e_in"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("d_sq"),
        )
        .select(
            "method",
            "n_communities",
            "n_moved",
            "n_directed_edges",
            q_num.alias("q_num"),
            (q_num.cast("double") / (e.cast("double") * e.cast("double")))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("modularity"),
        )
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of two candidate partitions of the near-dup
    graph (§2.4 graph family): (a) the single-round STAR partition
    (label = min(self, neighbors) — what one-pass star dedup produces)
    and (b) the exact CONNECTED COMPONENTS. The gap is the operational
    signal: low star modularity with high component modularity means
    chains are being split and canonical assignment should pay for the
    iterative CC pass; near-equal scores mean the cheap one-round star
    is already capturing the community structure.

    Exact-integer formulation: with E the DIRECTED edge count,
    Q = Σ_c [e_c/E − (D_c/E)²] = (Σ_c e_c·E − D_c²) / E², so the
    numerator q_num is summed in BIGINT (e_c = directed edges inside c,
    D_c = total degree of c) and only the single closing division is a
    pinned double — nothing float ever folds.

    Plan: both partitions are rungs of one ``_modularity_ladder`` (one
    tagged labels join, two aggs). The component labels come from the
    shared label-propagation loop (bounded rounds, checkpoint-truncated);
    the star labels are ONE groupBy over the edge set."""
    from .dedup import _label_propagation

    sym = _jaccard_edges(spark, sf_dir)
    edges = sym.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t"))

    star = (
        edges.groupBy(F.col("s").alias("node"))
        .agg(F.min("t").alias("min_nbr"))
        .select("node", F.least(F.col("node"), F.col("min_nbr")).alias("c"))
    )
    with session_conf(spark, "spark.sql.shuffle.partitions", "8"):
        comp = _label_propagation(spark, sym).select(
            F.col("doc_id").alias("node"), F.col("component_id").alias("c")
        )

    return _modularity_ladder(
        edges, [("star", star, 0), ("components", comp, 0)]
    ).drop("n_moved")


def _modularity_tail_sql(method: str, labels_cte: str) -> str:
    return f"""
  SELECT '{method}' AS method,
         COUNT(*) AS n_communities,
         MAX(m) AS n_directed_edges,
         CAST(SUM(e_c * m - d_c * d_c) AS BIGINT) AS q_num
  FROM (
    SELECT d.c, d.d_c, COALESCE(e.e_c, 0) AS e_c, t.m
    FROM (SELECT ls.c, COUNT(*) AS d_c
          FROM edges JOIN {labels_cte} ls ON ls.node = edges.src
          GROUP BY ls.c) d
    LEFT JOIN (SELECT ls.c, COUNT(*) AS e_c
               FROM edges
               JOIN {labels_cte} ls ON ls.node = edges.src
               JOIN {labels_cte} lt ON lt.node = edges.dst
               WHERE ls.c = lt.c GROUP BY ls.c) e USING (c)
    CROSS JOIN (SELECT COUNT(*) AS m FROM edges) t
  )"""


GRAPH_MODULARITY_SQL = f"""
WITH RECURSIVE
{_JACCARD_EDGES_CTES},
star AS (
  SELECT src AS node, LEAST(src, MIN(dst)) AS c FROM edges GROUP BY src
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node),
q AS (
{_modularity_tail_sql("star", "star")}
  UNION ALL
{_modularity_tail_sql("components", "comp")}
)
SELECT method, n_communities, n_directed_edges, q_num,
       CAST(CAST(CAST(q_num AS DOUBLE)
                 / (CAST(n_directed_edges AS DOUBLE)
                    * CAST(n_directed_edges AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS modularity
FROM q
"""


# ---------------------------------------------------------------------------
# Louvain: one greedy level over the near-dup graph
# ---------------------------------------------------------------------------


def graph_louvain_one_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One greedy Louvain sweep (r6 verdict directive #8) over the
    memoized Jaccard edge stream, integer-micro modularity gain: from
    the singleton partition, every node simultaneously evaluates moving
    into each neighbor's community and takes the best strictly-positive
    gain — the synchronous first level every distributed Louvain
    (GraphX/Gelly implementations) runs, since sequential node visits
    don't scale.

    Exact arithmetic: with E the directed edge count, k_i node degrees,
    and singleton start, the gain of moving i into {j} is
    ΔQ·E² = 2·w(i,j)·E − 2·k_i·k_j with w(i,j)=1 on this simple graph —
    so the argmax over neighbors is min(k_j, j) (rarest-degree neighbor,
    id tie-break) and the move fires iff k_i·k_j < E. All decisions are
    BIGINT; no float enters until the final pinned modularity division.

    Output: the singleton baseline row and the post-sweep row
    (n_communities, n_moved, exact q_num, modularity) — the measured
    statement "one greedy level buys THIS much modularity".

    Plan (``_louvain_levels`` with one level): degrees are one keyed
    agg; gains ride the edge stream with two degree joins (AQE-broadcast
    at this size, keyed at corpus scale); the argmax is a struct-max
    groupBy; both modularity rows come from one ``_modularity_ladder``
    plan. No iteration, no quadratic stage.

    The sweep is the shared weighted helper with w=1: gain
    2·1·E − 2·k_s·k_t is strictly decreasing in k_t, so its (gain desc,
    t) argmax equals the min(k_t, t) pick above — same labels as the
    oracle. In a mutual pair (i→j AND j→i) only the LARGER id moves, so
    {i, j} lands in community min(i, j) instead of swapping labels."""
    return _louvain_levels(spark, sf_dir, 1, converge=False)


def _louvain_tail_sql(method: str, labels_cte: str, moved_sql: str) -> str:
    return f"""
  SELECT '{method}' AS method,
         COUNT(*) AS n_communities,
         {moved_sql} AS n_moved,
         MAX(m) AS n_directed_edges,
         CAST(SUM(e_c * m - d_c * d_c) AS BIGINT) AS q_num
  FROM (
    SELECT d.c, d.d_c, COALESCE(e.e_c, 0) AS e_c, t.m
    FROM (SELECT ls.c, COUNT(*) AS d_c
          FROM edges JOIN {labels_cte} ls ON ls.node = edges.src
          GROUP BY ls.c) d
    LEFT JOIN (SELECT ls.c, COUNT(*) AS e_c
               FROM edges
               JOIN {labels_cte} ls ON ls.node = edges.src
               JOIN {labels_cte} lt ON lt.node = edges.dst
               WHERE ls.c = lt.c GROUP BY ls.c) e USING (c)
    CROSS JOIN (SELECT COUNT(*) AS m FROM edges) t
  )"""


GRAPH_LOUVAIN_ONE_LEVEL_SQL = f"""
WITH
{_JACCARD_EDGES_CTES},
deg AS (SELECT src AS node, COUNT(*) AS k FROM edges GROUP BY src),
tot AS (SELECT COUNT(*) AS m FROM edges),
gains AS (
  SELECT e.src AS node, ks.k AS k_s, kt.k AS k_t, e.dst AS t,
         ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY kt.k, e.dst) AS rn
  FROM edges e
  JOIN deg ks ON ks.node = e.src
  JOIN deg kt ON kt.node = e.dst
),
singleton AS (SELECT node, node AS c, FALSE AS moved FROM deg),
prop AS (
  SELECT g.node,
         CASE WHEN g.k_s * g.k_t < t.m THEN g.t ELSE g.node END AS c
  FROM gains g CROSS JOIN tot t
  WHERE g.rn = 1
),
louv AS (
  SELECT p1.node,
         CASE WHEN EXISTS (SELECT 1 FROM prop p2
                           WHERE p2.node = p1.c AND p2.c = p1.node)
                   AND p1.node < p1.c
              THEN p1.node ELSE p1.c END AS c,
         CASE WHEN EXISTS (SELECT 1 FROM prop p2
                           WHERE p2.node = p1.c AND p2.c = p1.node)
                   AND p1.node < p1.c
              THEN FALSE ELSE p1.c <> p1.node END AS moved
  FROM prop p1
),
q AS (
{_louvain_tail_sql("singleton", "singleton", "CAST(0 AS BIGINT)")}
  UNION ALL
{_louvain_tail_sql(
    "louvain1",
    "louv",
    "(SELECT CAST(COUNT(*) FILTER (WHERE moved) AS BIGINT) FROM louv)",
)}
)
SELECT method, n_communities, n_moved, n_directed_edges, q_num,
       CAST(CAST(CAST(q_num AS DOUBLE)
                 / (CAST(n_directed_edges AS DOUBLE)
                    * CAST(n_directed_edges AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS modularity
FROM q
"""


def _louvain_weighted_sweep(
    wedges: DataFrame, deg: DataFrame, m: int
) -> tuple[DataFrame, int]:
    """One synchronous greedy sweep over a WEIGHTED directed edge list
    (s, t, w) with degrees (node, k) and E = m directed edges: gain of
    moving s into {t} is ΔQ·E² = 2·w(s,t)·E − 2·k_s·k_t (self-loop
    terms cancel — the level-2 form; level 1 is the w=1 special case).
    Argmax by (gain desc, t asc), move iff gain > 0.

    Mutual-swap resolution is ONE groupBy on the unordered pair
    (least(node, c), greatest(node, c)): a group of two is a mutual
    pair (i→j AND j→i), in which only the LARGER id moves, so both land
    in community min(i, j); a group of one is a one-way proposal, which
    stands, or a node that stays (keyed (node, node), which no proposal
    shares). Returns the eagerly checkpointed (node, c, moved) labels —
    every consumer of the level (label joins, contraction, composition)
    reads the checkpoint — and n_moved, observed on that same
    checkpoint job."""
    ks = deg.select(F.col("node").alias("s"), F.col("k").alias("k_s"))
    kt = deg.select(F.col("node").alias("t"), F.col("k").alias("k_t"))
    gain = 2 * F.col("w") * F.lit(m).cast("long") - 2 * F.col("k_s") * F.col("k_t")
    prop = (
        wedges.join(ks, "s")
        .join(kt, "t")
        .groupBy(F.col("s").alias("node"))
        .agg(F.max(F.struct(gain.alias("gain"), (-F.col("t")).alias("nt"))).alias("b"))
        .select(
            "node",
            F.when(F.col("b.gain") > 0, -F.col("b.nt")).otherwise(F.col("node")).alias("c"),
        )
    )
    lo, hi = F.col("lo"), F.col("hi")
    resolved = F.when(
        F.col("n") == 2,
        F.array(
            F.struct(lo.alias("node"), lo.alias("c")),
            F.struct(hi.alias("node"), lo.alias("c")),
        ),
    ).otherwise(F.array(F.struct(F.col("p").alias("node"), F.col("pc").alias("c"))))
    obs = Observation()
    out = (
        prop.groupBy(
            F.least("node", "c").alias("lo"), F.greatest("node", "c").alias("hi")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("node").alias("p"),
            F.min("c").alias("pc"),
        )
        .select(F.inline(resolved))
        .withColumn("moved", F.col("c") != F.col("node"))
        .observe(obs, F.sum(F.col("moved").cast("long")).alias("n_moved"))
        .localCheckpoint(eager=True)
    )
    return out, obs.get["n_moved"] or 0


def _louvain_levels(
    spark: SparkSession, sf_dir: str, levels: int, converge: bool
) -> DataFrame:
    """Louvain levels 1..``levels`` over the near-dup graph and their
    modularity ladder: each level sweeps the current community graph,
    composes its labels onto the original nodes and contracts the graph
    for the next level (relabel both endpoints, sum weights; self-loops
    keep internal mass and count in degrees, not in gains). With
    ``converge`` the loop stops after the first level that moves no
    node — that level is the terminal row, with the previous labels.

    Each sweep is checkpointed by the helper. A contraction or
    composition is checkpointed only when a later level reads it: the
    last level's contraction feeds only its sweep and its composition
    only the ladder, so neither pays an eager job."""
    edges = _jaccard_edges(spark, sf_dir).select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("t")
    )
    deg = edges.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("k"))
    m = edges.count()  # E: the sweeps' gains read it as a literal
    rungs = [("singleton", deg.select("node", F.col("node").alias("c")), 0)]
    wg, gdeg = edges.withColumn("w", F.lit(1).cast("long")), deg
    composed = None
    for level in range(1, levels + 1):
        last = level == levels
        if level > 1:
            l_s = lab.select(F.col("node").alias("s"), F.col("c").alias("cs"))
            l_t = lab.select(F.col("node").alias("t"), F.col("c").alias("ct"))
            wg = (
                wg.join(l_s, "s")
                .join(l_t, "t")
                .groupBy(F.col("cs").alias("s"), F.col("ct").alias("t"))
                .agg(F.sum("w").alias("w"))
            )
            if not last:
                wg = wg.localCheckpoint(eager=True)
            gdeg = wg.groupBy(F.col("s").alias("node")).agg(F.sum("w").alias("k"))
        lab, n_moved = _louvain_weighted_sweep(
            wg.filter(F.col("s") != F.col("t")), gdeg, m
        )
        if composed is None:  # level 1 sweeps every node
            composed = lab.select("node", "c")
        elif n_moved:
            # a community with only self-loops never proposes: it keeps
            # its label through the coalesce
            composed = composed.join(
                lab.select(F.col("node").alias("c"), F.col("c").alias("c2")),
                "c",
                "left",
            ).select("node", F.coalesce("c2", "c").alias("c"))
            if not last:
                composed = composed.localCheckpoint(eager=True)
        rungs.append((f"louvain{level}", composed, n_moved))
        if converge and n_moved == 0:
            break  # converged: the zero-move level is the terminal row
    return _modularity_ladder(edges, rungs)


def graph_louvain_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Louvain shape — level 1 over nodes, then CONTRACTION (one
    node per community, directed edge weights summed, self-loops kept as
    internal mass) and a second greedy sweep over the community graph
    with the WEIGHTED gain 2·w(c,d)·E − 2·D_c·D_d (the singleton
    self-loop terms cancel exactly, so the same integer formula drives
    both levels). Output: singleton / louvain1 / louvain2 rows, each
    with modularity computed over the ORIGINAL edges under the composed
    labels — level 2's Q is exactly the contracted graph's Q, so the row
    sequence is the algorithm's monotone-improvement ladder, measured.

    Plan (``_louvain_levels`` with two levels, no early stop): E is one
    count; each sweep is degree joins, a struct-max groupBy and a
    pair groupBy for swap resolution, eagerly checkpointed with its
    n_moved observed on the same job; the contraction is one keyed agg
    that feeds the level-2 sweep directly; all three modularity rows
    come from one ``_modularity_ladder`` plan. The graph SHRINKS each
    level — the property that makes Louvain tractable at billions of
    edges."""
    return _louvain_levels(spark, sf_dir, 2, converge=False)


# Bounded level cap for the converged Louvain loop. The fixtures
# converge in 2–3 levels; the cap bounds the driver loop AND the
# oracle's unrolled CTE chain (each level is one sweep + contraction —
# the graph shrinks per level, so late levels are near-free).
LOUVAIN_MAX_LEVELS = 4


def graph_louvain_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain to CONVERGENCE (r6 verdict directive #8): iterate
    sweep → contraction while the sweep still moves nodes, bounded by
    ``LOUVAIN_MAX_LEVELS``, emitting the full modularity ladder —
    singleton plus one row per executed level, each Q computed over the
    ORIGINAL edges under the composed labels. The stop rule
    ``n_moved == 0`` is exact ΔQ-convergence for this integer
    formulation: a move fires only on strictly positive integer gain
    ΔQ·E² ≥ 1, so "no move" means no single-node relocation can improve
    Q by even 1/E².

    The terminal row is part of the contract: the ladder's last level
    shows n_moved = 0 (the convergence PROOF, not just absence of more
    rows), and rounds-to-stop is the row count minus the singleton.

    Plan (``_louvain_levels``): per level, one weighted sweep (degree
    joins + struct-max groupBy, pair-groupBy swap resolution) and one
    keyed contraction agg; label/contraction outputs are eagerly
    checkpointed so lineage stays LINEAR in levels (the r6 persist
    lesson — without truncation each level's plan re-embeds every prior
    level ~4×). The stop scalar n_moved is observed on the sweep's own
    checkpoint job, so convergence costs no extra job. Driver state is
    one scalar per level, cap-bounded; the graph SHRINKS each
    contraction, which is what makes the loop tractable at billions of
    edges."""
    return _louvain_levels(spark, sf_dir, LOUVAIN_MAX_LEVELS, converge=True)


def _louvain_level_sql(level: int) -> str:
    """One unrolled Louvain level for ``_louvain_sql``: weighted
    sweep over ``cedges{level}`` (self-loops excluded from gains,
    included in degrees), mutual-swap resolution, label composition,
    and the next level's contracted graph. Every per-level CTE is
    MATERIALIZED — each is referenced multiple times, and DuckDB
    inlines plain CTEs at every reference (2^depth blow-up on an
    iterate chain)."""
    lv, prev = level, level - 1
    return f"""
cdeg{lv} AS MATERIALIZED (
  SELECT s AS node, CAST(SUM(w) AS BIGINT) AS k FROM cedges{lv} GROUP BY s
),
gains{lv} AS (
  SELECT e.s AS node,
         2 * e.w * t.m - 2 * ks.k * kt.k AS gain, e.t,
         ROW_NUMBER() OVER (PARTITION BY e.s
                            ORDER BY 2 * e.w * t.m - 2 * ks.k * kt.k DESC,
                                     e.t) AS rn
  FROM cedges{lv} e
  JOIN cdeg{lv} ks ON ks.node = e.s
  JOIN cdeg{lv} kt ON kt.node = e.t
  CROSS JOIN tot t
  WHERE e.s <> e.t
),
prop{lv} AS MATERIALIZED (
  SELECT node, CASE WHEN gain > 0 THEN t ELSE node END AS c
  FROM gains{lv} WHERE rn = 1
),
louv{lv} AS MATERIALIZED (
  SELECT p1.node,
         CASE WHEN EXISTS (SELECT 1 FROM prop{lv} p2
                           WHERE p2.node = p1.c AND p2.c = p1.node)
                   AND p1.node < p1.c
              THEN p1.node ELSE p1.c END AS c,
         CASE WHEN EXISTS (SELECT 1 FROM prop{lv} p2
                           WHERE p2.node = p1.c AND p2.c = p1.node)
                   AND p1.node < p1.c
              THEN FALSE ELSE p1.c <> p1.node END AS moved
  FROM prop{lv} p1
),
comp{lv} AS MATERIALIZED (
  SELECT c0.node, COALESCE(l.c, c0.c) AS c
  FROM comp{prev} c0 LEFT JOIN louv{lv} l ON l.node = c0.c
),
cedges{lv + 1} AS MATERIALIZED (
  SELECT ls.c AS s, lt.c AS t, CAST(SUM(e.w) AS BIGINT) AS w
  FROM cedges{lv} e
  JOIN louv{lv} ls ON ls.node = e.s
  JOIN louv{lv} lt ON lt.node = e.t
  GROUP BY 1, 2
)"""


def _louvain_sql(levels: int, converge: bool) -> str:
    """The unrolled twin of ``_louvain_levels(levels, converge)``: the
    singleton row, then one generated level per level. With
    ``converge`` the emission matches the early stop exactly: level l's
    row appears iff every earlier level moved at least one node (when a
    sweep proposes nothing, all later sweeps are identical no-ops, so
    unrolling past convergence is safe — and filtered out here)."""
    body = "".join("," + _louvain_level_sql(lv) for lv in range(1, levels + 1))
    tails = [_louvain_tail_sql("singleton", "comp0", "CAST(0 AS BIGINT)")]
    for lv in range(1, levels + 1):
        tail = _louvain_tail_sql(
            f"louvain{lv}",
            f"comp{lv}",
            f"(SELECT CAST(COUNT(*) FILTER (WHERE moved) AS BIGINT) FROM louv{lv})",
        )
        if converge and lv > 1:
            gate = " AND ".join(
                f"(SELECT COUNT(*) FILTER (WHERE moved) FROM louv{j}) > 0"
                for j in range(1, lv)
            )
            tail = f"  SELECT * FROM (\n{tail}\n  ) WHERE {gate}"
        tails.append(tail)
    ladder = "\n  UNION ALL\n".join(tails)
    return f"""
WITH
{_JACCARD_EDGES_CTES},
deg AS (SELECT src AS node, COUNT(*) AS k FROM edges GROUP BY src),
tot AS (SELECT COUNT(*) AS m FROM edges),
comp0 AS MATERIALIZED (SELECT node, node AS c FROM deg),
cedges1 AS MATERIALIZED (
  SELECT src AS s, dst AS t, CAST(1 AS BIGINT) AS w FROM edges
){body},
q AS (
{ladder}
)
SELECT method, n_communities, n_moved, n_directed_edges, q_num,
       CAST(CAST(CAST(q_num AS DOUBLE)
                 / (CAST(n_directed_edges AS DOUBLE)
                    * CAST(n_directed_edges AS DOUBLE))
            AS DECIMAL(18,6)) AS DOUBLE) AS modularity
FROM q
"""


GRAPH_LOUVAIN_TWO_LEVEL_SQL = _louvain_sql(2, converge=False)
GRAPH_LOUVAIN_CONVERGED_SQL = _louvain_sql(LOUVAIN_MAX_LEVELS, converge=True)


# ---------------------------------------------------------------------------
# HITS hubs & authorities (bipartite purchase graph)
# ---------------------------------------------------------------------------

HITS_TOPK = 25


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs/authorities, 2 unrolled iterations) over the
    bipartite customer→part purchase graph: a part's authority is the
    summed hub weight of the customers buying it; a customer's hub
    weight is the summed authority of the parts they buy. The output
    ranks parts by 2nd-iteration authority — "parts endorsed by
    broad-basket customers", the graph-native complement of raw sales
    counts (graph_link_prediction shares this edge set).

    Integer-exact formulation: scores are unnormalized BIGINT sums
    (a₀ = 1 → h₁ = out-degree → a₁ = Σh₁ → h₂ = Σa₁ → a₂ = Σh₂); with
    bounded degrees the growth is polynomial and far below int64 here —
    a production run rescales (floor-div by the max) between iterations,
    the same integer discipline as graph_pagerank's micro-units.

    Scale design: the edge set is the DISTINCT (customer, part) pairs —
    one dedup shuffle — and each half-iteration is one keyed agg plus
    one edge⋈score join, all keyed by the edge endpoints (bucketing the
    edge table by each endpoint makes them co-located at rest). No
    driver-side state, no lineage growth: the loop is unrolled.
    """
    c = Catalog(spark, sf_dir)
    li = c.table("lineitem").select("l_orderkey", "l_partkey")
    orders = c.table("orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    # a0 = 1 for every part  ⇒  h1(cust) = out-degree
    h1 = edges.groupBy("cust").agg(F.count(F.lit(1)).alias("h1"))
    a1 = (
        edges.join(h1, "cust")
        .groupBy("part")
        .agg(F.sum("h1").alias("a1"))
    )
    h2 = (
        edges.join(a1, "part")
        .groupBy("cust")
        .agg(F.sum("a1").alias("h2"))
    )
    a2 = (
        edges.join(h2, "cust")
        .groupBy("part")
        .agg(F.sum("h2").alias("a2"), F.count(F.lit(1)).alias("n_buyers"))
    )
    return (
        a2.join(a1, "part")
        .select(
            F.col("part").alias("part_key"),
            F.col("a1").cast("bigint").alias("auth1"),
            F.col("a2").cast("bigint").alias("auth2"),
            F.col("n_buyers").cast("int").alias("n_buyers"),
        )
        .orderBy(F.desc("auth2"), "part_key")
        .limit(HITS_TOPK)
    )


GRAPH_HITS_SQL = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS cust, l_partkey AS part
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
h1 AS (SELECT cust, COUNT(*) AS h1 FROM edges GROUP BY cust),
a1 AS (
  SELECT part, SUM(h1) AS a1 FROM edges JOIN h1 USING (cust) GROUP BY part
),
h2 AS (
  SELECT cust, SUM(a1) AS h2 FROM edges JOIN a1 USING (part) GROUP BY cust
),
a2 AS (
  SELECT part, SUM(h2) AS a2, COUNT(*) AS n_buyers
  FROM edges JOIN h2 USING (cust) GROUP BY part
)
SELECT part AS part_key, CAST(a1 AS BIGINT) AS auth1, CAST(a2 AS BIGINT) AS auth2,
       CAST(n_buyers AS INT) AS n_buyers
FROM a2 JOIN a1 USING (part)
ORDER BY auth2 DESC, part_key
LIMIT {HITS_TOPK}
"""


# ---------------------------------------------------------------------------
# Label-propagation communities (mode-label LPA)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2


def graph_community_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation community detection (Raghavan et al. 2007) over
    the symmetric Jaccard≥0.5 edge graph — {LPA_ROUNDS} SYNCHRONOUS
    rounds where every node adopts the MODE of its neighbors' labels
    (ties → smallest label). Communities differ from connected
    components (min-label reachability): LPA splits a component along
    dense cores, which is what template-family analysis wants when one
    giant component chains several distinct boilerplate families.

    Determinism: synchronous rounds + total tie order (count DESC, label
    ASC) make the fixed unrolled iteration replayable — asynchronous
    LPA (the common implementation) is order-dependent and cannot be
    oracle-checked. Per round: one edge⋈label join and two keyed aggs —
    the per-iteration cost of pagerank, reused plan shape.
    """
    edges = _jaccard_edges(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = F.max(F.struct(F.col("c").alias("c"), (-F.col("label")).alias("nl")))
        labels = (
            cnt.groupBy("src")
            .agg(best.alias("b"))
            .select(F.col("src").alias("node"), (-F.col("b.nl")).alias("label"))
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("community"),
            F.col("n").cast("int").alias("community_size"),
        )
    )


def _ddb_lpa_round(k: int) -> str:
    """DuckDB CTEs ``c{k}``/``l{k}``: round ``k`` of mode-label
    propagation from ``l{k-1}``, ties to the smallest label."""
    return f"""c{k} AS (
  SELECT e.src, l.label, COUNT(*) AS c
  FROM edges e JOIN l{k - 1} l ON l.node = e.dst GROUP BY 1, 2
),
l{k} AS (
  SELECT src AS node, label FROM (
    SELECT src, label,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, label ASC) AS rn
    FROM c{k}) WHERE rn = 1
)"""


def _graph_community_label_prop_sql(rounds: int) -> str:
    """The oracle for ``graph_community_label_prop`` at ``rounds``
    rounds: one generated round per round, so it follows ``LPA_ROUNDS``."""
    steps = ",\n".join(_ddb_lpa_round(k) for k in range(1, rounds + 1))
    last = f"l{rounds}"
    return f"""
WITH
{_JACCARD_EDGES_CTES},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
{steps},
sizes AS (SELECT label, COUNT(*) AS n FROM {last} GROUP BY label)
SELECT node AS doc_id, {last}.label AS community, CAST(n AS INT) AS community_size
FROM {last} JOIN sizes ON {last}.label = sizes.label
"""


GRAPH_COMMUNITY_LABEL_PROP_SQL = _graph_community_label_prop_sql(LPA_ROUNDS)


# ---------------------------------------------------------------------------
# Deterministic random walks (DeepWalk corpus generation)
# ---------------------------------------------------------------------------

WALKS_PER_NODE = 2
WALK_LENGTH = 3  # hops per walk (path holds WALK_LENGTH + 1 nodes)


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk corpus over the Jaccard edge graph (DeepWalk/node2vec
    style, public) with HASH-DRIVEN "randomness": walk w at node v picks
    neighbor  sorted_neighbors[ md5(v, w, step) mod degree ].  Hash
    selection replaces RNG state, so the walk corpus — the input that
    graph-embedding trainers consume — is reproducible across engines,
    retries, and partition layouts, the same discipline as the
    multiplier bootstrap and the shard shuffle.

    Plan: one groupBy builds the per-node SORTED neighbor array (the
    adjacency index — bucketable by node at rest); each of the
    {WALK_LENGTH} steps is one keyed join against that index plus a
    row-local hash pick. State is |nodes|·{WALKS_PER_NODE} walk rows —
    never edge-sized — and the loop is unrolled, no lineage growth.

    The path ships as its comma-joined node ids ('12,40,12,7') on both
    sides (``array_join`` / DuckDB ``array_to_string``): an
    ``array<bigint>`` cell is unhashable for a pandas row canonicalizer.
    """
    edges = _jaccard_edges(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    adj = edges.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )
    walks = adj.select(
        F.col("src").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(WALKS_PER_NODE - 1))).alias("w"),
    ).select("start", "w", F.col("start").alias("cur"), F.array("start").alias("path"))
    for step in range(WALK_LENGTH):
        pick = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("cur").cast("string"),
                            F.col("w").cast("string"),
                            F.lit(str(step)),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.size("nbrs")
        )
        walks = (
            walks.join(adj, walks.cur == adj.src)
            .select(
                "start",
                "w",
                F.element_at("nbrs", (pick + 1).cast("int")).alias("cur"),
                F.concat(
                    "path", F.array(F.element_at("nbrs", (pick + 1).cast("int")))
                ).alias("path"),
            )
        )
    return walks.select(
        "start",
        F.col("w").cast("int").alias("walk_no"),
        F.array_join(F.col("path").cast("array<string>"), ",").alias("path"),
        F.col("cur").alias("end_node"),
    ).orderBy("start", "walk_no")


# The oracle's walk prefix: the Jaccard edge graph, the sorted adjacency
# ``adj`` and the walk start rows ``w0``; ``_ddb_walk_step`` extends it.
_DDB_WALK_START = f"""
WITH
{_JACCARD_EDGES_CTES},
adj AS (SELECT src, list_sort(list(dst)) AS nbrs FROM edges GROUP BY src),
w0 AS (
  SELECT a.src AS start, t.w, a.src AS cur, [a.src] AS path
  FROM adj a, (SELECT UNNEST(generate_series(0, {WALKS_PER_NODE - 1})) AS w) t
)"""


def _ddb_walk_step(k: int) -> str:
    """DuckDB CTE ``w{k}``: hop ``k`` of every walk from ``w{k-1}``. The
    md5 pick (the twin of ``graph_random_walks``'s ``pick`` for step
    ``k - 1``) is computed once per row, in the inner SELECT."""
    return f"""w{k} AS (
  SELECT start, w, nxt AS cur, list_append(path, nxt) AS path FROM (
    SELECT start, w, path,
           nbrs[CAST(('0x' || substr(md5(CAST(w{k - 1}.cur AS VARCHAR) || ':' || CAST(w AS VARCHAR) || ':{k - 1}'), 1, 8))::BIGINT % len(nbrs) AS INT) + 1] AS nxt
    FROM w{k - 1} JOIN adj ON w{k - 1}.cur = adj.src)
)"""


def _graph_random_walks_sql(walk_length: int) -> str:
    """The oracle for ``graph_random_walks`` at ``walk_length`` hops: one
    generated step CTE per hop, so the oracle follows ``WALK_LENGTH``."""
    steps = ",\n".join(_ddb_walk_step(k) for k in range(1, walk_length + 1))
    return f"""{_DDB_WALK_START},
{steps}
SELECT start, CAST(w AS INT) AS walk_no, array_to_string(path, ',') AS path,
       cur AS end_node
FROM w{walk_length} ORDER BY start, walk_no
"""


GRAPH_RANDOM_WALKS_SQL = _graph_random_walks_sql(WALK_LENGTH)
