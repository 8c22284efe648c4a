"""Graph / market-basket operators over the order co-purchase graph.

The graph: an undirected edge joins two parts that appear in the same
order (distinct pairs; lineitem self-join on ``l_orderkey``). Orders have
a bounded line count, so edge generation is per-order-local — never a
global cross join. The reference has no graph surface (nothing comparable
in /root/reference); these extend the iterative-graph family
(`dedup.dedup_cluster` connected components, `dedup.rank_pagerank`) with
the two classic one-shot shapes:

* **triangle counting** — the degree-ordered "forward" algorithm
  (Schank & Wagner 2005): orient every edge from the lower-(degree, id)
  endpoint to the higher, join wedges at the apex, probe the closing
  edge. Orientation bounds every out-degree by O(sqrt(m)), which is THE
  device that makes the wedge join's skew survivable at scale — a
  celebrity node's million edges become in-edges, never a million-wide
  wedge fan-out.
* **association rules** — support / confidence / lift for co-purchased
  part pairs (the a-priori 2-itemset step), exact integer ppm so both
  engines rank identically.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table, small_df
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()


# Shared edge CTE: distinct co-purchase part pairs (x < y).
_EDGES_SQL = """
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y"))
        .distinct()
    )


# --- triangle counting (degree-oriented forward algorithm) -------------------

# Total orientation key: (degree, node) packed into one BIGINT — partkeys
# are far below 1e9, degrees far below 1e9, so deg*1e9+node is collision-
# free and identical integer math in both engines.
_ORD = "deg * 1000000000 + node"

_TRIANGLE_SQL = f"""
WITH edges AS ({_EDGES_SQL}
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT x AS node FROM edges UNION ALL SELECT y AS node FROM edges
  ) GROUP BY node
), ord AS (
  SELECT node, {_ORD} AS ok FROM deg
), oriented AS (
  SELECT CASE WHEN ox.ok < oy.ok THEN e.x ELSE e.y END AS src,
         CASE WHEN ox.ok < oy.ok THEN e.y ELSE e.x END AS dst
  FROM edges e
  JOIN ord ox ON ox.node = e.x
  JOIN ord oy ON oy.node = e.y
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM oriented w1
JOIN oriented w2 ON w2.src = w1.src AND w2.dst <> w1.dst
JOIN oriented e3 ON e3.src = w1.dst AND e3.dst = w2.dst
"""


# Kept port (deferred): the text unrolls the loop; it waits for the loop-state helper.
@_q("graph_triangle_count", _TRIANGLE_SQL)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph via the degree-ordered
    forward algorithm (Schank & Wagner 2005; the shape every distributed
    triangle system uses): orient each edge from its lower-(degree, id)
    endpoint, enumerate wedges at the apex (self-join of oriented edges
    on src), and probe the closing oriented edge. Each triangle is
    counted EXACTLY once — its minimum-order vertex is the only one with
    out-edges to both others, and the closing edge has exactly one
    orientation — so no /3 or /6 correction is needed and the count is
    engine-independent.

    100 TB: orientation bounds every out-degree by O(sqrt(m)), so the
    wedge self-join's per-key fan-out is capped regardless of degree
    skew (a celebrity part's edges all point IN); the wedge and closing
    joins are plain hash equi-joins on node keys; the only driver-side
    values are the three scalar counts. The orientation key packs
    (degree, node) into one BIGINT — exact in both engines."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ordk = deg.select("node", F.expr(_ORD).alias("ok"))
    oriented = (
        edges.join(
            ordk.withColumnRenamed("node", "x").withColumnRenamed("ok", "okx"),
            "x",
        )
        .join(
            ordk.withColumnRenamed("node", "y").withColumnRenamed("ok", "oky"),
            "y",
        )
        .select(
            F.when(F.col("okx") < F.col("oky"), F.col("x"))
            .otherwise(F.col("y"))
            .alias("src"),
            F.when(F.col("okx") < F.col("oky"), F.col("y"))
            .otherwise(F.col("x"))
            .alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    w1, w2, e3 = oriented.alias("w1"), oriented.alias("w2"), oriented.alias("e3")
    tri = (
        w1.join(
            w2,
            (F.col("w2.src") == F.col("w1.src"))
            & (F.col("w2.dst") != F.col("w1.dst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("w1.dst"))
            & (F.col("e3.dst") == F.col("w2.dst")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
        )
    )


# --- association rules (a-priori 2-itemsets) ---------------------------------

_RULES_TOPK = 20
_RULES_MIN_SUPPORT = 2

_RULES_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets
), item AS (
  SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS supp FROM baskets
  GROUP BY l_partkey
), pair AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y, CAST(count(*) AS BIGINT) AS supp_xy
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= {_RULES_MIN_SUPPORT}
), scored AS (
  SELECT x, y, supp_xy,
         ix.supp AS supp_x, iy.supp AS supp_y,
         supp_xy * 1000000 // ix.supp AS confidence_ppm,
         supp_xy * n.n_orders * 1000000 // (ix.supp * iy.supp) AS lift_ppm
  FROM pair JOIN item ix ON ix.p = x JOIN item iy ON iy.p = y CROSS JOIN n
)
SELECT x, y, supp_xy, supp_x, supp_y,
       CAST(confidence_ppm AS BIGINT) AS confidence_ppm,
       CAST(lift_ppm AS BIGINT) AS lift_ppm,
       CAST(row_number() OVER (ORDER BY lift_ppm DESC, x, y) AS INTEGER) AS rk
FROM scored
QUALIFY rk <= {_RULES_TOPK}
"""


@_q("basket_association_rules", _RULES_SQL)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules — the a-priori 2-itemset step
    (Agrawal & Srikant 1994): for co-purchased part pairs above a minimum
    support, emit support, confidence(x→y), and lift, ranked by lift.
    All scores are exact integer ppm (floor division) with (x, y)
    tie-breaks, so both engines produce the identical top-k.

    100 TB: baskets dedup and item supports are map-side-combined
    groupBys; pair generation is per-order-local (bounded by max basket
    size squared, never a global cross join); the min-support HAVING
    prunes the long tail BEFORE the scoring joins; the final rank window
    runs on surviving pairs only. The lift join brings the single-row
    order count in as a broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(
        eager=False
    )
    n = baskets.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    item = baskets.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("supp")
    )
    pair = (
        baskets.alias("a")
        .join(
            baskets.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count("*").alias("supp_xy"))
        .filter(F.col("supp_xy") >= _RULES_MIN_SUPPORT)
    )
    scored = (
        pair.join(
            item.withColumnRenamed("p", "x").withColumnRenamed("supp", "supp_x"),
            "x",
        )
        .join(
            item.withColumnRenamed("p", "y").withColumnRenamed("supp", "supp_y"),
            "y",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            "supp_xy",
            "supp_x",
            "supp_y",
            F.expr("supp_xy * 1000000 div supp_x")
            .cast("bigint")
            .alias("confidence_ppm"),
            F.expr("supp_xy * n_orders * 1000000 div (supp_x * supp_y)")
            .cast("bigint")
            .alias("lift_ppm"),
        )
    )
    w = W.orderBy(F.desc("lift_ppm"), "x", "y")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _RULES_TOPK)
    )


# --- neighbor-set Jaccard similarity ------------------------------------------

# Substrate: the REPEAT co-purchase graph - an edge only where the pair
# was bought together in >= 2 DISTINCT orders.  The support filter is the
# denoising step every production co-occurrence graph applies (a single
# shared basket is overwhelmingly coincidence), and it is also what makes
# EXACT all-pairs Jaccard tractable: the raw sf0.1 graph has avg degree
# ~120 and Sum deg^2 = 298M wedges (measured), while the support>=2 graph
# collapses to ~10k wedges - random co-occurrence dilutes SUBLINEARLY as
# orders grow, so the exact pass gets CHEAPER per row at scale while true
# repeat-signal edges persist.
_JACCARD_MIN_SUPPORT = 2

# Hub cap: wedge generation at node w fans out deg(w)^2 candidate pairs, so
# a celebrity node would dominate the shuffle.  Capping the apex degree
# (standard frequent-item pruning in similarity mining) bounds the
# per-node fan-out; 1000 is a no-op at every test SF but makes the 100 TB
# worst case Sum_w min(deg_w, CAP)^2.
_JACCARD_HUB_CAP = 1000

def _repeat_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-filtered (>= _JACCARD_MIN_SUPPORT distinct orders) repeat
    co-purchase edges. Distinct-baskets-first + plain count(*) instead of
    countDistinct over the raw pair explode: the basket dedup is one
    map-side-collapsible exchange and the pair counts then combine
    map-side — measured 3.1 -> 1.9 s at sf0.1 for the shared support
    stage every graph op pays. Result set is identical (support = number
    of distinct orders containing both parts either way).

    r14 shape: ONE explicit hash exchange on the join key — lineitem is
    repartitioned by l_orderkey (partition count rides the
    spark.sql.shuffle.partitions conf, i.e. $SPARK_GRAFT_CPUS locally and
    the cluster value in production), the basket dedup then collapses
    LOCALLY (hash(ok) already clusters the (ok,pk) groups), and the MERGE
    hint keeps the self-join on the co-partitioned sides — no broadcast
    build of the full basket table and no per-side re-exchange (the old
    plan collected+shipped all ~|baskets| rows as a HashedRelation).
    A/B at sf0.1: 1.50 -> 0.91 s median, rows identical."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    np_ = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bk = (
        li.repartition(np_, "l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
        .hint("MERGE")
    )
    return (
        bk.alias("a")
        .join(
            bk.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _JACCARD_MIN_SUPPORT)
        .select("x", "y")
    )


_JACCARD_SQL = f"""
WITH edges AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(DISTINCT a.l_orderkey) >= {_JACCARD_MIN_SUPPORT}
), adj AS (
  SELECT x AS u, y AS w FROM edges
  UNION ALL
  SELECT y AS u, x AS w FROM edges
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u
), apex AS (
  SELECT a.u, a.w FROM adj a
  JOIN deg dw ON dw.u = a.w
  WHERE dw.deg <= {_JACCARD_HUB_CAP}
), cn AS (
  SELECT a.u AS u1, b.u AS u2, CAST(count(*) AS BIGINT) AS common
  FROM apex a JOIN apex b ON a.w = b.w AND a.u < b.u
  GROUP BY a.u, b.u
), jac AS (
  SELECT c.u1, c.u2, c.common,
         d1.deg AS deg1, d2.deg AS deg2,
         CAST(c.common * 1000000 // (d1.deg + d2.deg - c.common) AS BIGINT)
           AS jaccard_ppm
  FROM cn c JOIN deg d1 ON d1.u = c.u1 JOIN deg d2 ON d2.u = c.u2
)
SELECT u1, u2, common, deg1, deg2, jaccard_ppm
FROM jac
ORDER BY jaccard_ppm DESC, u1, u2
LIMIT 100
"""


@_q("graph_jaccard_neighbors", _JACCARD_SQL)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity between repeat-co-purchase graph
    nodes - the classic link-prediction / entity-resolution signal
    (|N(a) n N(b)| / |N(a) u N(b)|), reported as exact integer ppm so
    both engines rank identically.  Edges require co-purchase support >=
    ``_JACCARD_MIN_SUPPORT`` distinct orders (see module comment: the
    denoising filter that ALSO makes the exact all-pairs pass tractable
    - the unsupported graph's 298M-wedge Jaccard belongs to the banded
    MinHash machinery, not an exact operator), candidate pairs are
    generated by wedges at a shared neighbor (never an all-pairs join),
    and the apex degree is capped (``_JACCARD_HUB_CAP``).

    Scale shape: support filtering is one map-side-combined groupBy on
    the per-order-local pair explode; adjacency and degree are one
    groupBy each; the wedge self-join is keyed on the apex node (bounded
    fan-out after the cap); the top-100 is a TakeOrderedAndProject, no
    global sort materialized."""
    edges = _repeat_edges(spark, sf_dir)
    adj = edges.select(F.col("x").alias("u"), F.col("y").alias("w")).unionAll(
        edges.select(F.col("y").alias("u"), F.col("x").alias("w"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    apex = adj.join(
        deg.filter(F.col("deg") <= _JACCARD_HUB_CAP).select(
            F.col("u").alias("w")
        ),
        "w",
    )
    a, b = apex.alias("a"), apex.alias("b")
    cn = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")))
        .groupBy(F.col("a.u").alias("u1"), F.col("b.u").alias("u2"))
        .agg(F.count("*").cast("long").alias("common"))
    )
    jac = (
        cn.join(deg.select(F.col("u").alias("u1"), F.col("deg").alias("deg1")), "u1")
        .join(deg.select(F.col("u").alias("u2"), F.col("deg").alias("deg2")), "u2")
        .select(
            "u1",
            "u2",
            "common",
            "deg1",
            "deg2",
            F.expr("common * 1000000 div (deg1 + deg2 - common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    return jac.orderBy(F.desc("jaccard_ppm"), "u1", "u2").limit(100)


# --- multi-source BFS distances ------------------------------------------------

_BFS_MAX_DEPTH = 3
_BFS_SRC_MOD = 97  # nodes with partkey % 97 == 0 seed the frontier

# Substrate: the REPEAT co-purchase graph (support >= 2 distinct orders —
# the same denoising filter graph_jaccard_neighbors motivates).  On the
# RAW graph BFS is degenerate AND expensive: ambient co-occurrence makes
# the diameter ~2 (everything lands at dist 1 — no information) while the
# edge list grows superlinearly with order overlap (measured 11.7 s at
# sf0.1).  The supported graph keeps only repeat signal: sparser, a real
# distance distribution, and the edge count grows SUBLINEARLY (module
# comment above — random co-occurrence dilutes as orders grow).
_BFS_EDGES_SQL = f"""
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(DISTINCT a.l_orderkey) >= {_JACCARD_MIN_SUPPORT}
"""

_BFS_SQL = f"""
WITH RECURSIVE edges AS ({_BFS_EDGES_SQL}
), adj AS (
  SELECT x AS u, y AS w FROM edges
  UNION ALL
  SELECT y AS u, x AS w FROM edges
), bfs(node, dist) AS (
  SELECT DISTINCT u AS node, 0 AS dist FROM adj WHERE u % {_BFS_SRC_MOD} = 0
  UNION
  SELECT a.w, b.dist + 1 FROM bfs b JOIN adj a ON a.u = b.node
  WHERE b.dist < {_BFS_MAX_DEPTH}
)
SELECT CAST(dist AS INTEGER) AS dist, CAST(count(*) AS BIGINT) AS n_nodes
FROM (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
GROUP BY 1
ORDER BY dist
"""


@_q("graph_bfs_distances", _BFS_SQL)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first search over the REPEAT co-purchase
    graph (support >= 2 — see ``_BFS_EDGES_SQL`` for why the raw graph
    is the wrong substrate): every part whose key is divisible by
    ``_BFS_SRC_MOD`` seeds the frontier at distance 0, and the
    reachable-set histogram (distance → node count) is reported up to
    ``_BFS_MAX_DEPTH`` hops. This is the canonical iterative-join graph
    shape (Pregel superstep as a DataFrame loop); the oracle is a DuckDB
    recursive CTE over the same adjacency, so the fixed-point itself is
    cross-checked, not just the plumbing.

    Scale shape: each superstep is ONE hash join frontier x adjacency
    keyed on the node id followed by a distinct and an anti-join against
    the visited set — the frontier only carries NEWLY reached nodes, so
    total work across rounds is O(sum of frontier-adjacent edges), never
    nodes x rounds. ``localCheckpoint`` cuts the growing lineage each
    round (the standard Spark iterative-algorithm device; at cluster
    scale this is a checkpoint to the shuffle service, not the driver).
    Distances are small exact integers — no float drift between engines."""
    edges = (
        _repeat_edges(spark, sf_dir)
        .localCheckpoint(eager=False)
    )
    adj = edges.select(F.col("x").alias("u"), F.col("y").alias("w")).unionAll(
        edges.select(F.col("y").alias("u"), F.col("x").alias("w"))
    ).localCheckpoint(eager=False)
    srcs = (
        adj.select(F.col("u").alias("node"))
        .filter(F.col("node") % _BFS_SRC_MOD == 0)
        .distinct()
    )
    visited = srcs.withColumn("dist", F.lit(0).cast("int")).localCheckpoint(
        eager=False
    )
    frontier = srcs
    for d in range(1, _BFS_MAX_DEPTH + 1):
        reached = (
            frontier.join(adj, frontier["node"] == adj["u"])
            .select(F.col("w").alias("node"))
            .distinct()
        )
        frontier = reached.join(visited, "node", "left_anti").localCheckpoint(
            eager=False
        )
        visited = visited.unionAll(
            frontier.withColumn("dist", F.lit(d).cast("int"))
        ).localCheckpoint(eager=False)
    return (
        visited.groupBy("dist")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("dist")
    )


# --- resource-allocation link prediction ---------------------------------------

# Per-common-neighbor contribution: floor(1e9 / deg(w)) — exact integer in
# both engines, so candidate ranking cannot diverge in a float ulp.
_RA_SCALE = 1_000_000_000
_RA_TOPK = 100

_RA_SQL = f"""
WITH edges AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(DISTINCT a.l_orderkey) >= {_JACCARD_MIN_SUPPORT}
), adj AS (
  SELECT x AS u, y AS w FROM edges
  UNION ALL
  SELECT y AS u, x AS w FROM edges
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u
), apex AS (
  SELECT a.u, a.w, dw.deg AS degw FROM adj a
  JOIN deg dw ON dw.u = a.w
  WHERE dw.deg <= {_JACCARD_HUB_CAP}
), cand AS (
  SELECT a.u AS u1, b.u AS u2,
         CAST(count(*) AS BIGINT) AS common,
         CAST(sum({_RA_SCALE} // a.degw) AS BIGINT) AS ra_ppb
  FROM apex a JOIN apex b ON a.w = b.w AND a.u < b.u
  GROUP BY a.u, b.u
)
SELECT u1, u2, common, ra_ppb
FROM cand c
WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.x = c.u1 AND e.y = c.u2)
ORDER BY ra_ppb DESC, u1, u2
LIMIT {_RA_TOPK}
"""


@_q("graph_resource_alloc", _RA_SQL)
def graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (Zhou, Lu & Zhang 2009): for
    node pairs that are NOT currently edges of the repeat-co-purchase
    graph, score the likelihood of a future edge as
    sum over common neighbors w of 1/deg(w) — high-degree hubs
    contribute little, an exclusive shared neighbor contributes a lot.
    The per-neighbor term is the exact integer ``floor(1e9/deg)`` so both
    engines produce the identical top-``{_RA_TOPK}`` ranking (the float RA
    index would tie-break on ulps). Substrate and candidate machinery are
    shared with `graph_jaccard_neighbors` (support-filtered edges, wedge
    generation at a degree-capped apex — see the module comment for why
    the support filter makes the exact pass tractable).

    Scale shape: one map-side-combined groupBy folds each wedge's
    contribution (count + RA sum ride the same exchange); the non-edge
    filter is a broadcast-able anti-join against the support-filtered
    edge list; the top-k is TakeOrderedAndProject — no global sort."""
    edges = (
        _repeat_edges(spark, sf_dir)
        .localCheckpoint(eager=False)
    )
    adj = edges.select(F.col("x").alias("u"), F.col("y").alias("w")).unionAll(
        edges.select(F.col("y").alias("u"), F.col("x").alias("w"))
    )
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
    apex = adj.join(
        deg.filter(F.col("deg") <= _JACCARD_HUB_CAP)
        .select(F.col("u").alias("w"), F.col("deg").alias("degw")),
        "w",
    )
    a, b = apex.alias("a"), apex.alias("b")
    cand = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")))
        .select(
            F.col("a.u").alias("u1"),
            F.col("b.u").alias("u2"),
            F.expr(f"{_RA_SCALE} div a.degw").alias("contrib"),
        )
        .groupBy("u1", "u2")
        .agg(
            F.count("*").cast("long").alias("common"),
            F.sum("contrib").cast("long").alias("ra_ppb"),
        )
    )
    nonedge = cand.join(
        edges.select(F.col("x").alias("u1"), F.col("y").alias("u2")),
        ["u1", "u2"],
        "left_anti",
    )
    return nonedge.orderBy(F.desc("ra_ppb"), "u1", "u2").limit(_RA_TOPK)


# --- k-core decomposition (iterative peeling) -----------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    ctes = [f"e0 AS ({_BFS_EDGES_SQL})"]
    for r in range(1, _KCORE_ROUNDS + 1):
        p = r - 1
        ctes.append(f"""d{r} AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT x AS node FROM e{p} UNION ALL SELECT y AS node FROM e{p}
  ) GROUP BY node
)""")
        ctes.append(
            f"k{r} AS (SELECT node FROM d{r} WHERE deg >= {_KCORE_K})"
        )
        ctes.append(f"""e{r} AS (
  SELECT e.x, e.y FROM e{p} e
  JOIN k{r} a ON a.node = e.x
  JOIN k{r} b ON b.node = e.y
)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT {r} AS round,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM k{r}) AS n_nodes,"
        f" (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows + "\nORDER BY round"


# Kept port (deferred): the text unrolls the loop; it waits for the loop-state helper.
@_q("graph_kcore", _kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by iterative peeling (Seidman 1983; the
    standard distributed formulation — Montresor et al.): repeatedly drop
    nodes of degree < ``_KCORE_K`` and the edges they carry until the
    fixed point; ``_KCORE_ROUNDS`` supersteps are unrolled and the
    per-round (surviving nodes, surviving edges) trajectory is emitted,
    so convergence is visible in the result and the unrolled CTE oracle
    value-proves every round, not just the final core (the
    `emb_pca_power` / `ml_logistic_regression` device).  Substrate is
    the repeat co-purchase graph (see ``_BFS_EDGES_SQL``).

    Scale shape: each round is one map-side-combined degree groupBy plus
    two keyed semi-join-shaped edge filters — work is proportional to
    the SURVIVING edge set, which shrinks monotonically (peeling never
    re-adds); per-round localCheckpoint cuts the iterative lineage.  At
    100 TB the same loop runs until no node drops (the emitted
    trajectory shows the fixed point approaching); all counts are exact
    integers."""
    edges = (
        _repeat_edges(spark, sf_dir)
        .localCheckpoint(eager=False)
    )
    out = None
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("x").alias("node"))
            .unionAll(edges.select(F.col("y").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        kept = deg.filter(F.col("deg") >= _KCORE_K).select("node").localCheckpoint(
            eager=False
        )
        edges = (
            edges.join(kept.withColumnRenamed("node", "x"), "x", "left_semi")
            .join(kept.withColumnRenamed("node", "y"), "y", "left_semi")
            .select("x", "y")
            .localCheckpoint(eager=False)
        )
        row = (
            kept.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(edges.agg(F.count("*").cast("long").alias("n_edges")))
            .select(
                F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges"
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("round")


# --- label propagation communities (synchronous, deterministic tie-break) ----

_LPA_ROUNDS = 3


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA kernel: returns (edges, adj, labels-after-_LPA_ROUNDS).

    One round = one equi-join (adj x labels on the neighbor key) + one
    (node, label) count + one node-partitioned row_number — the
    GraphFrames LPA schedule, nothing global, no driver state."""
    edges = _repeat_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("x").alias("u"), F.col("y").alias("w")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("w"))
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            adj.join(labels, adj.w == labels.node)
            .groupBy(adj.u.alias("node"), "label")
            .agg(F.count("*").cast("long").alias("c"))
        )
        # argmax by (c DESC, label ASC) as a hash aggregation: max of the
        # struct (c, -label) picks the same row the old row_number()-over-
        # (ORDER BY c DESC, label) window did, without the window's
        # per-node sort (r13 opt; labels are positive part keys, so the
        # int64 negation is a safe total-order flip)
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
        )
    return edges, adj, labels


def _lpa_round_sql(prev: str, idx: int) -> str:
    return f"""c{idx} AS (
  SELECT a.u AS node, l.label, CAST(count(*) AS BIGINT) AS c
  FROM adj a JOIN {prev} l ON l.node = a.w
  GROUP BY a.u, l.label
), l{idx} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{idx})
  WHERE rn = 1
)"""


_LPA_SQL = (
    f"""
WITH edges AS ({_BFS_EDGES_SQL}
), adj AS (
  SELECT x AS u, y AS w FROM edges
  UNION ALL
  SELECT y, x FROM edges
), l0 AS (
  SELECT DISTINCT u AS node, u AS label FROM adj
), """
    + ", ".join(_lpa_round_sql(f"l{i}", i + 1) for i in range(_LPA_ROUNDS))
    + f"""
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       min(node) AS rep
FROM l{_LPA_ROUNDS} GROUP BY label ORDER BY community
"""
)


# Kept port (deferred): the text unrolls the loop; it waits for the loop-state helper.
@_q("graph_label_propagation", _LPA_SQL)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan et
    al. 2007 — the near-linear-time community algorithm every graph
    library ships) over the repeat-co-purchase graph: every node starts
    as its own label; each round it adopts the most frequent label among
    its neighbors.  {_LPA_ROUNDS} synchronous rounds, so the oracle is
    the SAME computation unrolled as chained CTEs — no fixpoint
    nondeterminism to paper over.

    Determinism: vanilla LPA breaks frequency ties randomly (the
    published algorithm's known wart); here ties break by SMALLEST
    label — a total order, so both engines pick the identical label and
    the community table is bit-identical.

    Scale shape: one round = one equi-join (adj x labels on the
    neighbor key) + one (node, label) count + one per-node
    row_number — all hash-partitioned on node, nothing global, no
    driver state; this is exactly GraphFrames' LPA schedule.  Rounds
    are fixed (not fixpoint), so the lineage is bounded; at 100 TB each
    round reuses the adjacency's partitioning and the per-node
    row_number rides a window whose partition key is the node (no
    single-partition window)."""
    _, _, labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").cast("long").alias("n_nodes"), F.min("node").alias("rep"))
        .orderBy("community")
    )


# --- modularity of the LPA communities ----------------------------------------

_MODULARITY_SQL = (
    f"""
WITH edges AS ({_BFS_EDGES_SQL}
), adj AS (
  SELECT x AS u, y AS w FROM edges
  UNION ALL
  SELECT y, x FROM edges
), l0 AS (
  SELECT DISTINCT u AS node, u AS label FROM adj
), """
    + ", ".join(_lpa_round_sql(f"l{i}", i + 1) for i in range(_LPA_ROUNDS))
    + f"""
, deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u
), mm AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM edges
), intra AS (
  SELECT la.label AS community, CAST(count(*) AS BIGINT) AS intra_edges
  FROM edges e
  JOIN l{_LPA_ROUNDS} la ON la.node = e.x
  JOIN l{_LPA_ROUNDS} lb ON lb.node = e.y
  WHERE la.label = lb.label GROUP BY la.label
), dsum AS (
  SELECT l.label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d.deg) AS BIGINT) AS degree_sum
  FROM l{_LPA_ROUNDS} l JOIN deg d ON d.node = l.node GROUP BY l.label
)
SELECT d.community, d.n_nodes,
       CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
       d.degree_sum, mm.m AS m_edges,
       CAST(4 * mm.m * coalesce(i.intra_edges, 0)
            - d.degree_sum * d.degree_sum AS BIGINT) AS q_contrib_num
FROM dsum d LEFT JOIN intra i ON i.community = d.community CROSS JOIN mm
ORDER BY d.community
"""
)


# Kept port (keep-rule 2b, worse plan): the text unrolls the loop to 126 exchanges, the port plans 11.
@_q("graph_modularity", _MODULARITY_SQL)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity decomposition of the LPA communities (Newman-Girvan
    Q — the quality score every community-detection paper reports):
    per community, intra-community edge count e_c and degree mass d_c;
    the exact-integer contribution ``4m·e_c − d_c²`` sums across
    communities to ``Q·4m²``, so Q is verifiable to full precision
    WITHOUT a single float (Q = Σ q_contrib_num / (4m²) downstream).

    Shares the LPA kernel (``_lpa_labels``) with
    graph_label_propagation — same 3 deterministic rounds, so the
    community assignment under scoring is exactly the one that operator
    emits; the oracle re-derives both the rounds AND the scoring.

    Scale shape: intra-edge counting is the edge list joined to the
    label table on EACH endpoint (two hash joins keyed by node — the
    triangle-count device); degree mass is one groupBy; everything
    after is |communities| rows with a single-row m broadcast."""
    edges, adj, labels = _lpa_labels(spark, sf_dir)
    labels = labels.localCheckpoint(eager=False)
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    mm = edges.agg(F.count("*").cast("long").alias("m"))
    la = labels.select(F.col("node").alias("x"), F.col("label").alias("lx"))
    lb = labels.select(F.col("node").alias("y"), F.col("label").alias("ly"))
    intra = (
        edges.join(la, "x")
        .join(lb, "y")
        .filter(F.col("lx") == F.col("ly"))
        .groupBy(F.col("lx").alias("community"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    dsum = (
        labels.join(deg, "node")
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
    )
    return (
        dsum.join(intra, "community", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            "degree_sum",
            F.col("m").alias("m_edges"),
            (
                4 * F.col("m") * F.coalesce("intra_edges", F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            )
            .cast("long")
            .alias("q_contrib_num"),
        )
        .orderBy("community")
    )


# --- degree assortativity ------------------------------------------------------

_ASSORT_SQL = f"""
WITH edges AS ({_BFS_EDGES_SQL}
), adj AS (
  SELECT x AS u, y AS w FROM edges
  UNION ALL
  SELECT y, x FROM edges
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u
), pairs AS (
  SELECT du.deg AS dx, dw.deg AS dy
  FROM adj a JOIN deg du ON du.node = a.u JOIN deg dw ON dw.node = a.w
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dx) AS BIGINT) AS s1,
         CAST(sum(dx * dx) AS BIGINT) AS s2,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM pairs
)
SELECT n, s1, s2, sxy,
       CAST((n * sxy - s1 * s1) * 1000000 // (n * s2 - s1 * s1) AS BIGINT)
         AS assortativity_ppm
FROM sums
"""


@_q("graph_assortativity", _ASSORT_SQL)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the repeat-co-purchase
    graph — do high-degree products co-sell with other high-degree
    products (r > 0, social-network-like) or with long-tail ones
    (r < 0, hub-and-spoke)?  Pearson correlation of the degree pairs at
    the two ends of every (directed-both-ways) edge.

    Exact-rational contract: over the SYMMETRIZED edge list the x and y
    marginals are identical (Σdx = Σdy, Σdx² = Σdy²), so the usual
    Pearson square root VANISHES — r = (n·Σdxdy − (Σdx)²)/(n·Σdx² −
    (Σdx)²) is a ratio of exact BIGINTs, emitted in truncating-ppm with
    zero float math.

    Scale shape: one degree groupBy + two hash joins of the adjacency
    against the |nodes| degree table + a single 4-number fold — the
    resource-allocation join pattern, nothing global."""
    edges = _repeat_edges(spark, sf_dir)
    adj = edges.select(F.col("x").alias("u"), F.col("y").alias("w")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("w"))
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))
    dw = deg.select(F.col("node").alias("w"), F.col("deg").alias("dy"))
    pairs = adj.join(du, "u").join(dw, "w")
    return pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("s1"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("s2"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    ).selectExpr(
        "n",
        "s1",
        "s2",
        "sxy",
        "CAST((n * sxy - s1 * s1) * 1000000 div (n * s2 - s1 * s1) AS BIGINT)"
        " AS assortativity_ppm",
    )


# --- HITS hubs & authorities (r11p wave) -------------------------------------
# Kleinberg 1999 on the supplier→part bipartite digraph (suppliers are
# hubs, parts authorities). Determinism follows the rank_pagerank recipe:
# scores are fixed-point integers, each half-step is an int64 sum-groupBy
# over the edge list, and normalization is an exact floor-division by the
# current global max (a 1-row broadcast) instead of an L2 norm — any
# fixed positive scalar preserves the ordering HITS is used for, and the
# integers are bit-identical at any partitioning and in both engines.
# The normalization numerator (score * SCALE, score itself up to
# degree * SCALE) is widened to 128-bit — DECIMAL(38,0) in Spark,
# HUGEINT in DuckDB — before the floor division (ADVICE r11: in BIGINT
# it would silently wrap in Spark past ~9.2e6 effective degree while
# DuckDB raises, a cross-engine divergence); the post-division result
# is ≤ SCALE so the BIGINT output cast is always safe.

HITS_SCALE = 10**6


def _hits_max_norm(cte: str, col: str) -> str:
    return (
        f"SELECT {{key}}, CAST(CAST({col} AS HUGEINT) * {HITS_SCALE} // "
        f"(SELECT max({col}) FROM {cte}) AS BIGINT) AS {col} FROM {cte}"
    )


_HITS_SQL = f"""
WITH e AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s, CAST(l_partkey AS BIGINT) AS p
  FROM lineitem
), a1 AS (
  SELECT p, CAST(count(*) * {HITS_SCALE} AS BIGINT) AS auth FROM e GROUP BY p
), a1n AS ({_hits_max_norm("a1", "auth").format(key="p")}
), h1 AS (
  SELECT s, CAST(sum(a.auth) AS BIGINT) AS hub
  FROM e JOIN a1n a ON a.p = e.p GROUP BY s
), h1n AS ({_hits_max_norm("h1", "hub").format(key="s")}
), a2 AS (
  SELECT p, CAST(sum(h.hub) AS BIGINT) AS auth
  FROM e JOIN h1n h ON h.s = e.s GROUP BY p
), a2n AS ({_hits_max_norm("a2", "auth").format(key="p")}
), h2 AS (
  SELECT s, CAST(sum(a.auth) AS BIGINT) AS hub
  FROM e JOIN a2n a ON a.p = e.p GROUP BY s
), h2n AS ({_hits_max_norm("h2", "hub").format(key="s")}
)
SELECT kind, node_id, score_e6 FROM (
  SELECT 'auth' AS kind, p AS node_id, auth AS score_e6 FROM a2n
  UNION ALL
  SELECT 'hub', s, hub FROM h2n
) ORDER BY kind, node_id
"""


@_q("graph_hits", _HITS_SQL)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores, two full mutual-reinforcement rounds on
    the supplier→part digraph. Each half-step is ONE hash equi-join
    (edges ⋈ current scores) + ONE sum-groupBy; max-normalization is a
    single-row broadcast crossJoin — no driver-side state, no floats,
    no convergence probe (fixed sweep, like rank_pagerank's Jacobi).
    Oracle: the same four half-steps unrolled as chained CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        li.select(
            F.col("l_suppkey").cast("long").alias("s"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def norm(df: DataFrame, key: str, col: str) -> DataFrame:
        # checkpoint: df feeds BOTH the max-agg and the main select, and
        # the returned table feeds the next half-step — without it each
        # norm doubles the upstream subplan (the r13-opt fix: the final
        # plan was 2577 lines of repeated join/agg trees that Catalyst
        # re-optimized and partially re-executed every run; score tables
        # are |s|/|p| rows, so the materialization itself is trivial).
        df = df.localCheckpoint(eager=False)
        mx = df.agg(F.max(col).alias("__mx"))
        # 128-bit numerator (DECIMAL(38,0) here / HUGEINT in the oracle):
        # BIGINT would wrap past ~9.2e6 effective degree (ADVICE r11).
        return df.crossJoin(F.broadcast(mx)).select(
            key,
            F.expr(
                f"CAST(CAST({col} AS DECIMAL(38,0)) * {HITS_SCALE}"
                f" div __mx AS BIGINT)"
            ).alias(col),
        ).localCheckpoint(eager=False)

    a1 = e.groupBy("p").agg(
        (F.count("*") * HITS_SCALE).cast("long").alias("auth")
    )
    a1n = norm(a1, "p", "auth")
    h1 = (
        e.join(a1n, "p")
        .groupBy("s")
        .agg(F.sum("auth").cast("long").alias("hub"))
    )
    h1n = norm(h1, "s", "hub")
    a2 = (
        e.join(h1n, "s")
        .groupBy("p")
        .agg(F.sum("hub").cast("long").alias("auth"))
    )
    a2n = norm(a2, "p", "auth")
    h2 = (
        e.join(a2n, "p")
        .groupBy("s")
        .agg(F.sum("auth").cast("long").alias("hub"))
    )
    h2n = norm(h2, "s", "hub")
    out = a2n.select(
        F.lit("auth").alias("kind"),
        F.col("p").alias("node_id"),
        F.col("auth").alias("score_e6"),
    ).unionByName(
        h2n.select(
            F.lit("hub").alias("kind"),
            F.col("s").alias("node_id"),
            F.col("hub").alias("score_e6"),
        )
    )
    return out.orderBy("kind", "node_id")


# --- local clustering coefficient (r11p wave) --------------------------------

_CLUSTCOEF_SQL = f"""
WITH edges AS ({_EDGES_SQL}
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT x AS node FROM edges UNION ALL SELECT y AS node FROM edges
  ) GROUP BY node
), ord AS (
  SELECT node, {_ORD} AS ok FROM deg
), oriented AS (
  SELECT CASE WHEN ox.ok < oy.ok THEN e.x ELSE e.y END AS src,
         CASE WHEN ox.ok < oy.ok THEN e.y ELSE e.x END AS dst
  FROM edges e
  JOIN ord ox ON ox.node = e.x
  JOIN ord oy ON oy.node = e.y
), tri AS (
  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
  FROM oriented w1
  JOIN oriented w2 ON w2.src = w1.src AND w2.dst <> w1.dst
  JOIN oriented e3 ON e3.src = w1.dst AND e3.dst = w2.dst
), pertri AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node AS node_id, d.deg,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       CAST(2 * coalesce(t.triangles, 0) * 1000000
            // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
FROM deg d LEFT JOIN pertri t ON t.node = d.node
WHERE d.deg >= 2
ORDER BY node_id
"""


@_q("graph_clustering_coeff", _CLUSTCOEF_SQL)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) in exact integer ppm. Per-vertex triangle counts
    come from the SAME degree-oriented forward enumeration as
    graph_triangle_count — each triangle found once, then credited to its
    three corners with a 3× explode + sum-groupBy (no per-vertex wedge
    recount, so the O(sqrt(m)) out-degree bound still caps the join
    fan-out). Output is every node of degree ≥ 2 — row count scales with
    |V|, never |V|²."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    ordk = deg.select("node", F.expr(_ORD).alias("ok"))
    oriented = (
        edges.join(
            ordk.withColumnRenamed("node", "x").withColumnRenamed("ok", "okx"),
            "x",
        )
        .join(
            ordk.withColumnRenamed("node", "y").withColumnRenamed("ok", "oky"),
            "y",
        )
        .select(
            F.when(F.col("okx") < F.col("oky"), F.col("x"))
            .otherwise(F.col("y"))
            .alias("src"),
            F.when(F.col("okx") < F.col("oky"), F.col("y"))
            .otherwise(F.col("x"))
            .alias("dst"),
        )
        .localCheckpoint(eager=False)
    )
    w1, w2, e3 = oriented.alias("w1"), oriented.alias("w2"), oriented.alias("e3")
    tri = (
        w1.join(
            w2,
            (F.col("w2.src") == F.col("w1.src"))
            & (F.col("w2.dst") != F.col("w1.dst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("w1.dst"))
            & (F.col("e3.dst") == F.col("w2.dst")),
        )
        .select(
            F.col("w1.src").alias("a"),
            F.col("w1.dst").alias("b"),
            F.col("w2.dst").alias("c"),
        )
    )
    # one explode instead of a 3-way union of tri projections: joins are
    # not runtime-reused (only Exchanges are), so the union form executed
    # the wedge join three times (r13 opt)
    pertri = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(pertri, "node", "left")
        .select(
            F.col("node").alias("node_id"),
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "CAST(2 * coalesce(triangles, 0) * 1000000"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
        .orderBy("node_id")
    )


# --- strongly connected component of the pivot (r11w wave) -------------------
# Directed graph: consecutive-line edges within an order (part at line i
# → part at line i+1), sparsified to a mid-density slice so the answer
# is non-trivial (the full graph is one giant SCC). The classic
# distributed SCC primitive is forward-backward reachability
# (Fleischer/Hendrickson/Pinar): SCC(pivot) = reach(pivot) ∩
# reach_reverse(pivot). The oracle computes both closures with
# recursive CTEs; the Spark side runs frontier BFS to a FIXPOINT
# (convergence = zero new nodes — two scalars to the driver per round,
# the dedup_cluster signature-loop device), so agreement is again two
# independent algorithms.

SCC_MAX_ROUNDS = 40

_SCC_EDGE_COND = (
    "a.l_partkey <> b.l_partkey AND a.l_orderkey % 3 = 0"
    " AND a.l_partkey < 1000 AND b.l_partkey < 1000"
)

_SCC_SQL = f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
  WHERE {_SCC_EDGE_COND}
), piv AS (
  SELECT min(src) AS p FROM e
), fw(n) AS (
  SELECT p FROM piv
  UNION
  SELECT e.dst FROM e JOIN fw ON e.src = fw.n
), bw(n) AS (
  SELECT p FROM piv
  UNION
  SELECT e.src FROM e JOIN bw ON e.dst = bw.n
), scc AS (
  SELECT fw.n FROM fw JOIN bw ON bw.n = fw.n
)
SELECT (SELECT p FROM piv) AS pivot_node,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM fw) AS n_forward,
       (SELECT CAST(count(*) AS BIGINT) FROM bw) AS n_backward,
       (SELECT CAST(count(*) AS BIGINT) FROM scc) AS scc_size,
       (SELECT CAST(min(n) AS BIGINT) FROM scc) AS scc_min,
       (SELECT CAST(max(n) AS BIGINT) FROM scc) AS scc_max,
       (SELECT CAST(sum((n * 2654435761) % 1000000007) AS BIGINT) FROM scc)
         AS scc_checksum
"""


@_q("graph_scc", _SCC_SQL)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot SCC by forward-backward reachability: two frontier BFS
    sweeps (edges ⋈ frontier → anti-join against reached, per round) run
    to FIXPOINT with per-round localCheckpoint — each round sends the
    driver ONE scalar (new-node count), never node sets; the pivot is
    the single bounded driver-side value (min edge endpoint). SCC =
    forward ∩ backward reached sets; the output is one summary row with
    an order-independent integer member checksum. Oracle: recursive
    CTEs — an independent algorithm, like dedup_cluster's.

    100 TB: per-round cost is one hash equi-join on node keys over the
    (shrinking-frontier) edge slice + a distinct — the BFS primitive
    graph_bfs_distances already carries; rounds ∝ reachability diameter
    (loud RuntimeError past {SCC_MAX_ROUNDS}, never silent truncation).
    The full-graph SCC decomposition upgrade is iterated FW-BW peeling
    (documented: Fleischer et al. divide-and-conquer)."""
    li = load_table(spark, sf_dir, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1),
        )
        .filter(F.expr(_SCC_EDGE_COND))
        .select(
            F.col("a.l_partkey").cast("long").alias("src"),
            F.col("b.l_partkey").cast("long").alias("dst"),
        )
        .distinct()
        # r13 opt: lazy — the pivot collect materializes it (one job
        # instead of two; the bigstar lesson)
        .localCheckpoint(eager=False)
    )
    pivot = edges.agg(F.min("src")).collect()[0][0]  # one bounded scalar
    if pivot is None:
        # empty sparsified slice: match the oracle's single all-NULL row
        # (scalar subqueries over empty CTEs) instead of crashing on
        # int(None) below
        return spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS pivot_node,"
            " CAST(0 AS BIGINT) AS n_edges,"
            " CAST(0 AS BIGINT) AS n_forward, CAST(0 AS BIGINT) AS n_backward,"
            " CAST(0 AS BIGINT) AS scc_size, CAST(NULL AS BIGINT) AS scc_min,"
            " CAST(NULL AS BIGINT) AS scc_max,"
            " CAST(NULL AS BIGINT) AS scc_checksum"
        )

    def closure(ed: DataFrame, key: str, out: str) -> DataFrame:
        reached = small_df(spark, [(int(pivot),)], "n bigint").localCheckpoint(
            eager=False
        )
        frontier = reached
        for _ in range(SCC_MAX_ROUNDS):
            nxt = (
                ed.join(frontier, F.col(key) == F.col("n"))
                .select(F.col(out).alias("n"))
                .distinct()
                .join(reached, "n", "left_anti")
                # r13 opt: lazy — the convergence count() materializes
                # the pin; reached materializes inside the next round's
                # job (3 scheduled jobs per round -> ~1)
                .localCheckpoint(eager=False)
            )
            if nxt.count() == 0:
                return reached
            reached = reached.unionByName(nxt).localCheckpoint(eager=False)
            frontier = nxt
        raise RuntimeError(
            f"graph_scc: reachability did not converge in {SCC_MAX_ROUNDS} rounds"
        )

    fw = closure(edges, "src", "dst")
    bw = closure(edges, "dst", "src")
    scc = fw.join(bw, "n")
    stats = scc.agg(
        F.count("*").cast("long").alias("scc_size"),
        F.min("n").cast("long").alias("scc_min"),
        F.max("n").cast("long").alias("scc_max"),
        F.sum(F.expr("(n * 2654435761) % 1000000007")).cast("long")
        .alias("scc_checksum"),
    )
    counts = (
        edges.agg(F.count("*").cast("long").alias("n_edges"))
        .crossJoin(F.broadcast(fw.agg(F.count("*").cast("long").alias("n_forward"))))
        .crossJoin(F.broadcast(bw.agg(F.count("*").cast("long").alias("n_backward"))))
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            F.lit(int(pivot)).cast("long").alias("pivot_node"),
            "n_edges", "n_forward", "n_backward",
            "scc_size", "scc_min", "scc_max", "scc_checksum",
        )
    )


graph_scc.__doc__ = graph_scc.__doc__.format(SCC_MAX_ROUNDS=SCC_MAX_ROUNDS)


# --- personalized PageRank (r12 wave) -----------------------------------------
# rank_pagerank's teleport is uniform; PPR concentrates it on a SEED set,
# turning the rank into a proximity score to the seeds — the
# recommendation / expansion primitive ("parts related to this seed
# catalog"). Same integer-determinism recipe as rank_pagerank/graph_hits:
# fixed-point BIGINT ranks, floor-division damping, a fixed Jacobi sweep
# (no convergence probe), one equi-join + one sum-groupBy per round.

PPR_ITERS = 4
PPR_SCALE = 10**12
PPR_SEED_MOD = 50  # seed set: part keys divisible by 50 (deterministic)


def _ppr_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT d.node,
         CAST((CASE WHEN d.node % {PPR_SEED_MOD} = 0
                    THEN (15 * {PPR_SCALE}) // 100 ELSE 0 END)
              + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS rank
  FROM deg d LEFT JOIN (
    SELECT a.w AS node, sum(r.rank // dd.deg) AS m
    FROM adj a JOIN {prev} r ON r.node = a.u JOIN deg dd ON dd.node = a.u
    GROUP BY a.w
  ) s ON s.node = d.node
)"""


_PPR_SQL = (
    f"""
WITH edges AS ({_BFS_EDGES_SQL}
), adj AS (
  SELECT x AS u, y AS w FROM edges UNION ALL SELECT y, x FROM edges
), deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY u
), r0 AS (
  SELECT node,
         CAST(CASE WHEN node % {PPR_SEED_MOD} = 0 THEN {PPR_SCALE} ELSE 0 END
              AS BIGINT) AS rank
  FROM deg
), """
    + ", ".join(_ppr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(PPR_ITERS))
    + f"""
SELECT node AS node_id, (node % {PPR_SEED_MOD} = 0) AS is_seed,
       rank AS ppr_e12
FROM r{PPR_ITERS}
WHERE rank > 0
ORDER BY node_id
"""
)


@_q("graph_ppr", _PPR_SQL)
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the repeat-co-purchase graph: teleport
    mass restricted to the deterministic seed set (part keys % {mod} ==
    0), {iters} fixed Jacobi rounds. rank' (v) = [v∈S]·⌊15·SCALE/100⌋ +
    ⌊85·Σ_{{u→v}}⌊rank(u)/deg(u)⌋/100⌋ — all int64, so both engines and
    any partitioning agree bit-for-bit. Per round: one edges⋈ranks
    equi-join + one sum-groupBy + a left join back to the node table
    (nodes with no inbound mass keep their teleport-only rank). Output
    restricted to reached nodes (rank > 0) — the proximity neighborhood
    of the seed catalog. Oracle: the {iters} rounds unrolled as chained
    CTEs."""
    edges = _repeat_edges(spark, sf_dir)
    adj = (
        edges.select(F.col("x").alias("u"), F.col("y").alias("w"))
        .unionByName(edges.select(F.col("y").alias("u"), F.col("x").alias("w")))
        .localCheckpoint(eager=False)
    )
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint(eager=False)
    seed = (F.col("node") % PPR_SEED_MOD == 0)
    ranks = deg.select(
        "node",
        F.when(seed, F.lit(PPR_SCALE)).otherwise(F.lit(0)).cast("long").alias("rank"),
    )
    for _ in range(PPR_ITERS):
        inbound = (
            adj.join(ranks.withColumnRenamed("node", "u"), "u")
            .join(deg.select(F.col("node").alias("u"), "deg"), "u")
            .groupBy(F.col("w").alias("node"))
            .agg(F.sum(F.expr("rank div deg")).alias("m"))
        )
        ranks = deg.select("node").join(inbound, "node", "left").select(
            "node",
            (
                F.when(seed, F.lit(15 * PPR_SCALE // 100)).otherwise(F.lit(0))
                + F.expr("85 * coalesce(m, 0) div 100")
            ).cast("long").alias("rank"),
        )
    return (
        ranks.filter(F.col("rank") > 0)
        .select(
            F.col("node").alias("node_id"),
            (F.col("node") % PPR_SEED_MOD == 0).alias("is_seed"),
            F.col("rank").alias("ppr_e12"),
        )
        .orderBy("node_id")
    )


graph_ppr.__doc__ = graph_ppr.__doc__.format(mod=PPR_SEED_MOD, iters=PPR_ITERS)


# --- k-truss peeling (r12 wave) ------------------------------------------------
# The 3-truss of the repeat graph: every surviving edge must sit in >= 1
# triangle among surviving edges — the standard community-core
# definition one notch richer than k-core (which graph_kcore covers:
# k-core peels on DEGREE, k-truss on TRIANGLE SUPPORT; removing an edge
# can break ANOTHER edge's last triangle, which is why this peels
# iteratively). k=3 because the support-filtered repeat graph is sparse
# by design — at sf0.01 it has 181 triangle-closed edges and only 2
# edges with 2+ triangles, so a 4-truss would be a vacuous (empty)
# gate. Fixed 3 peeling rounds (the fixture converges in <= 1; rounds
# 2-3 prove stability), a final support recount on the survivors is the
# emitted value. Each round is a degree-ordered triangle enumeration
# (orient edges toward the higher-(deg,id) endpoint; wedge = ordered
# out-neighbor pair from the lowest vertex, closed by the oriented third
# edge — each triangle counted ONCE) + a redistribute-and-count groupBy
# + a semi-join filter — no driver state; determinism is exact integer
# counts.

KTRUSS_K = 3
KTRUSS_ROUNDS = 3


def _truss_support_sql(prev: str, out: str) -> str:
    """Degree-ordered triangle support: orient each edge toward its
    higher-(degree, id) endpoint, enumerate each triangle exactly ONCE
    from its lowest-rank vertex (wedges = pairs of out-neighbors, closed
    by the oriented third edge), then redistribute support to the three
    member edges. Halves the old symmetric-adjacency wedge join (which
    walked every wedge from both endpoints)."""
    return f"""deg_{out} AS MATERIALIZED (
  SELECT u, count(*) AS d
  FROM (SELECT x AS u FROM {prev} UNION ALL SELECT y FROM {prev})
  GROUP BY u
), oe_{out} AS MATERIALIZED (
  SELECT CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.x ELSE e.y END AS lo,
         CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.y ELSE e.x END AS hi,
         CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN dy.d ELSE dx.d END AS hd
  FROM {prev} e
  JOIN deg_{out} dx ON dx.u = e.x
  JOIN deg_{out} dy ON dy.u = e.y
), tri_{out} AS MATERIALIZED (
  SELECT o1.lo AS a, o1.hi AS b, o2.hi AS c
  FROM oe_{out} o1
  JOIN oe_{out} o2 ON o2.lo = o1.lo AND (o1.hd, o1.hi) < (o2.hd, o2.hi)
  JOIN oe_{out} t ON t.lo = o1.hi AND t.hi = o2.hi
), sup_{out} AS MATERIALIZED (
  SELECT x, y, count(*) AS sup FROM (
    SELECT least(a, b) AS x, greatest(a, b) AS y FROM tri_{out}
    UNION ALL SELECT least(a, c), greatest(a, c) FROM tri_{out}
    UNION ALL SELECT least(b, c), greatest(b, c) FROM tri_{out}
  ) GROUP BY x, y
)"""


def _truss_round_sql(prev: str, out: str) -> str:
    return f"""{_truss_support_sql(prev, out)}, {out} AS MATERIALIZED (
  SELECT s.x, s.y FROM sup_{out} s WHERE s.sup >= {KTRUSS_K - 2}
)"""


_KTRUSS_SQL = (
    f"""
WITH e0 AS ({_BFS_EDGES_SQL}
), """
    + ", ".join(_truss_round_sql(f"e{i}", f"e{i + 1}") for i in range(KTRUSS_ROUNDS))
    + f""", {_truss_support_sql(f"e{KTRUSS_ROUNDS}", "fin")}
SELECT s.x AS part_a, s.y AS part_b, CAST(s.sup AS BIGINT) AS support
FROM sup_fin s
ORDER BY part_a, part_b
"""
)


@_q("graph_ktruss", _KTRUSS_SQL)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-truss of the repeat-co-purchase graph via {rounds} fixed
    peeling rounds: an edge survives a round iff it closes >= {k}-2
    triangles among the round's surviving edges (edges with NO triangle
    have no support row and the semi-join drops them — support 0). The
    per-round support join uses degree-ordered orientation (count each
    triangle ONCE from its lowest-(degree,id) vertex, then redistribute
    support to the three member edges via a single explode — one
    execution of the wedge join, where a union of three tri projections
    would re-run it three times) — the node-iterator++ discipline
    graph_triangles documents, so wedge work is sum-over-v C(outdeg,2)
    instead of the symmetric 2x walk; per-round state is the
    checkpointed edge list only. Peeling is monotone, so a round that
    removes no edge is a proven fixed point: the loop exits early and
    that round's (already computed) support map IS the final recount —
    equivalent to the full unroll on every input, cheaper on converged
    ones. Output: surviving edges with their final support, recounted
    on the converged set so both engines emit the identical relation.
    Oracle: the rounds unrolled as chained CTEs."""
    edges = _repeat_edges(spark, sf_dir).localCheckpoint(eager=False)

    def support(e: DataFrame) -> DataFrame:
        # degree-ordered orientation: edge points to its higher-(deg, id)
        # endpoint; each triangle is enumerated exactly once from its
        # lowest-rank vertex (wedge = ordered out-neighbor pair, closed by
        # the oriented third edge), then support is redistributed to the
        # three member edges — half the old symmetric-adjacency wedge work.
        # deg and oe are multiply-referenced JOIN INPUTS (deg 2x, oe 3x);
        # only Exchange subtrees are runtime-reused, so without the
        # checkpoints each reference re-executes its subplan (r13 opt:
        # the wedge join ran 3x per pass via the old 3-way union of tri
        # projections — now a single explode over one tri execution;
        # measured 7.8 -> 3.3 s same-box at sf0.1 with the early exit).
        deg = (
            e.select(F.col("x").alias("u"))
            .unionByName(e.select(F.col("y").alias("u")))
            .groupBy("u")
            .agg(F.count("*").cast("long").alias("d"))
            .localCheckpoint(eager=False)
        )
        ek = e.join(
            deg.select(F.col("u").alias("x"), F.col("d").alias("dx")), "x"
        ).join(deg.select(F.col("u").alias("y"), F.col("d").alias("dy")), "y")
        kx = F.struct(F.col("dx"), F.col("x"))
        ky = F.struct(F.col("dy"), F.col("y"))
        oe = ek.select(
            F.when(kx < ky, F.col("x")).otherwise(F.col("y")).alias("lo"),
            F.when(kx < ky, F.col("y")).otherwise(F.col("x")).alias("hi"),
            F.when(kx < ky, F.col("dy")).otherwise(F.col("dx")).alias("hd"),
        ).localCheckpoint(eager=False)
        o1 = oe.select(
            F.col("lo").alias("a"), F.col("hi").alias("b"),
            F.col("hd").alias("bd"),
        )
        o2 = oe.select(
            F.col("lo").alias("a"), F.col("hi").alias("c"),
            F.col("hd").alias("cd"),
        )
        tri = (
            o1.join(o2, "a")
            .filter(F.struct("bd", "b") < F.struct("cd", "c"))
            .join(
                oe.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
                ["b", "c"],
                "left_semi",
            )
        )
        pairs = tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("a", "b").alias("x"),
                        F.greatest("a", "b").alias("y"),
                    ),
                    F.struct(
                        F.least("a", "c").alias("x"),
                        F.greatest("a", "c").alias("y"),
                    ),
                    F.struct(
                        F.least("b", "c").alias("x"),
                        F.greatest("b", "c").alias("y"),
                    ),
                )
            ).alias("e")
        ).select("e.x", "e.y")
        return pairs.groupBy("x", "y").agg(
            F.count("*").cast("long").alias("sup")
        )

    # Fixed-point early exit (r13 opt, guide §1.2 "don't compute things
    # you throw away"): peeling is MONOTONE — the semi-join only ever
    # removes edges — so a round that removes nothing proves every later
    # round is the identity and the final recount equals the support map
    # that round already computed (support is a pure function of the edge
    # set). Equivalent to the oracle's full unroll on EVERY input, not
    # just the fixture.
    n_prev = edges.count()
    sup = None
    for _ in range(KTRUSS_ROUNDS):
        sup = support(edges).localCheckpoint(eager=False)
        edges = (
            edges.join(
                sup.filter(F.col("sup") >= KTRUSS_K - 2).select("x", "y"),
                ["x", "y"],
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
        n_new = edges.count()
        if n_new == n_prev:
            break  # fixed point: support(edges) == sup, already computed
        n_prev = n_new
        sup = None
    if sup is None:  # all rounds removed edges: recount on the final set
        sup = support(edges)
    return (
        sup
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("sup").alias("support"),
        )
        .orderBy("part_a", "part_b")
    )


graph_ktruss.__doc__ = graph_ktruss.__doc__.format(k=KTRUSS_K, rounds=KTRUSS_ROUNDS)


# --- bipartite projection (r12 second wave) -----------------------------------
# Project the supplier↔part bipartite graph onto suppliers: two suppliers
# connect with weight = number of DISTINCT shared parts. The classic
# one-mode projection (recommendation co-supply signal). The quadratic
# hazard is a part supplied by thousands of suppliers (fan-out |S_p|²);
# the standard frequent-item pruning caps the part degree — a no-op at
# fixture scale, the survival device at 100 TB (hot parts carry no
# pairwise signal anyway).

_BIPROJ_SUPP_MAX = 40  # part-degree cap (prune parts with more suppliers)
_BIPROJ_MIN_W = 2

_BIPROJ_SQL = f"""
WITH pb AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s, CAST(l_partkey AS BIGINT) AS p
  FROM lineitem
), keep AS (
  SELECT p FROM pb GROUP BY p HAVING count(*) <= {_BIPROJ_SUPP_MAX}
), pbf AS (
  SELECT pb.s, pb.p FROM pb JOIN keep ON keep.p = pb.p
)
SELECT a.s AS supp_a, b.s AS supp_b, CAST(count(*) AS BIGINT) AS shared_parts
FROM pbf a JOIN pbf b ON a.p = b.p AND a.s < b.s
GROUP BY a.s, b.s
HAVING count(*) >= {_BIPROJ_MIN_W}
ORDER BY supp_a, supp_b
"""


sql_entry(_q, "graph_bipartite_projection", _BIPROJ_SQL)


# --- landmark harmonic closeness (r12 second wave) ------------------------------

_CLOSE_SRC_MOD = 200  # landmark set: part keys divisible by this
_CLOSE_MAX_DEPTH = 3

_CLOSENESS_SQL = f"""
WITH RECURSIVE edges AS ({_BFS_EDGES_SQL}
), adj AS (
  SELECT x AS u, y AS w FROM edges UNION ALL SELECT y, x FROM edges
), lm AS (
  SELECT DISTINCT u AS s FROM adj WHERE u % {_CLOSE_SRC_MOD} = 0
), bfs(s, node, dist) AS (
  SELECT s, s AS node, 0 AS dist FROM lm
  UNION
  SELECT b.s, a.w, b.dist + 1 FROM bfs b JOIN adj a ON a.u = b.node
  WHERE b.dist < {_CLOSE_MAX_DEPTH}
), md AS (
  SELECT s, node, min(dist) AS dist FROM bfs GROUP BY s, node
)
SELECT s AS landmark,
       CAST(count(*) FILTER (dist >= 1) AS BIGINT) AS n_reached,
       CAST(sum(CASE WHEN dist >= 1 THEN 1000000 // dist ELSE 0 END)
            AS BIGINT) AS harmonic_micros
FROM md GROUP BY s ORDER BY landmark
"""


@_q("graph_landmark_closeness", _CLOSENESS_SQL)
def graph_landmark_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality for a LANDMARK set (part keys %
    {mod} == 0) via multi-source BFS to depth {depth}: closeness(s) =
    Σ_reached ⌊10⁶/dist⌋ — the harmonic form handles disconnection
    without a division-by-∞ special case, and the floor keeps both
    engines bit-identical. The landmark restriction is THE way
    closeness ships at scale (all-pairs BFS is O(nm); landmarks make it
    O(|L|·m) with the frontier carrying (landmark, node) pairs — still
    one hash join + anti-join + distinct per superstep, exactly
    graph_bfs_distances' loop widened by the source key). Oracle: a
    recursive CTE over the same adjacency, min-dist per (source, node)."""
    edges = _repeat_edges(spark, sf_dir)
    adj = (
        edges.select(F.col("x").alias("u"), F.col("y").alias("w"))
        .unionByName(edges.select(F.col("y").alias("u"), F.col("x").alias("w")))
        .localCheckpoint(eager=False)
    )
    lm = (
        adj.select(F.col("u").alias("s"))
        .filter(F.col("s") % _CLOSE_SRC_MOD == 0)
        .distinct()
    )
    frontier = lm.select("s", F.col("s").alias("node"), F.lit(0).alias("dist"))
    # r13 opt: all pins lazy — the depth is FIXED (no per-round driver
    # probe), so every materialization can happen inside the single
    # final action instead of 2 scheduled jobs per round at build time
    visited = frontier.localCheckpoint(eager=False)
    for d in range(1, _CLOSE_MAX_DEPTH + 1):
        nxt = (
            frontier.join(adj, frontier.node == adj.u)
            .select("s", F.col("w").alias("node"), F.lit(d).alias("dist"))
            .distinct()
            .join(visited.select("s", "node"), ["s", "node"], "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return (
        visited.groupBy(F.col("s").alias("landmark"))
        .agg(
            F.sum(F.when(F.col("dist") >= 1, 1).otherwise(0))
            .cast("long")
            .alias("n_reached"),
            F.sum(
                F.when(F.col("dist") >= 1, F.expr("1000000 div dist")).otherwise(0)
            )
            .cast("long")
            .alias("harmonic_micros"),
        )
        .orderBy("landmark")
    )


graph_landmark_closeness.__doc__ = graph_landmark_closeness.__doc__.format(
    mod=_CLOSE_SRC_MOD, depth=_CLOSE_MAX_DEPTH
)


# --- deterministic random walks (r13) -------------------------------------------
# The DeepWalk / node2vec substrate: fixed-length walks from a seed set,
# with the "random" neighbor choice made by a seeded LCG over the
# CURRENT (walk, step, node) triple — a pure function, so any engine,
# any partitioning, any cluster size reproduces the identical walk
# relation (the same discipline stats_bootstrap_ci uses for resampling).
# Each step is one equi hash join of the frontier against the
# rank-indexed adjacency; per-step state is (walk, node) rows only.

WALK_STEPS = 4
WALK_SRC_MOD = 40  # seed set: nodes with node % MOD == 0
WALK_LCG_A, WALK_LCG_C, WALK_LCG_M = 1103515245, 12345, 2**31


def _walk_step_sql(prev: str, out: str, t: int) -> str:
    return f"""{out} AS MATERIALIZED (
  SELECT w.walk, a.w AS node
  FROM {prev} w
  JOIN adjr a ON a.u = w.node
   AND a.rn = (({WALK_LCG_A} * (w.walk * 100003 + {t} * 1009 + w.node)
                + {WALK_LCG_C}) % {WALK_LCG_M}) % a.deg + 1
)"""


_WALKS_SQL = (
    f"""
WITH edges AS MATERIALIZED ({_BFS_EDGES_SQL}
), adj AS MATERIALIZED (
  SELECT x AS u, y AS w FROM edges UNION ALL SELECT y, x FROM edges
), adjr AS MATERIALIZED (
  SELECT u, w, row_number() OVER (PARTITION BY u ORDER BY w) AS rn,
         count(*) OVER (PARTITION BY u) AS deg
  FROM adj
), w0 AS MATERIALIZED (
  SELECT DISTINCT u AS walk, u AS node FROM adj WHERE u % {WALK_SRC_MOD} = 0
), """
    + ", ".join(
        _walk_step_sql(f"w{t}", f"w{t + 1}", t + 1) for t in range(WALK_STEPS)
    )
    + f"""
SELECT walk, CAST(step AS BIGINT) AS step, CAST(node AS BIGINT) AS node FROM (
"""
    + "\nUNION ALL\n".join(
        f"SELECT walk, {t} AS step, node FROM w{t}"
        for t in range(WALK_STEPS + 1)
    )
    + """
)
ORDER BY walk, step
"""
)


@_q("graph_random_walks", _WALKS_SQL)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{steps}-step deterministic walks from every seed node
    (node % {mod} == 0) of the repeat-co-purchase graph: the step-t
    choice from node u on walk w is the neighbor at rank
    ``LCG(w·100003 + t·1009 + u) mod deg(u)`` in u's sorted adjacency.
    Emits the full (walk, step, node) path relation.

    Scale: the adjacency is rank-indexed ONCE (per-u window — partition
    key u, never single-partition); each step is one equi hash join of
    the (walk, node) frontier against it; walk count ∝ seed density, so
    the frontier never exceeds |seeds| rows per step. Zero driver
    traffic, zero floats."""
    edges = _repeat_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("x").alias("u"), F.col("y").alias("w")).unionByName(
        edges.select(F.col("y").alias("u"), F.col("x").alias("w"))
    )
    wu = W.partitionBy("u").orderBy("w")
    adjr = adj.select(
        "u", "w",
        F.row_number().over(wu).alias("rn"),
        F.count("*").over(W.partitionBy("u")).alias("deg"),
    ).localCheckpoint(eager=False)
    frontier = (
        adj.filter(F.col("u") % WALK_SRC_MOD == 0)
        .select(F.col("u").alias("walk"), F.col("u").alias("node"))
        .distinct()
    )
    out = frontier.select("walk", F.lit(0).alias("step"), "node")
    for t in range(1, WALK_STEPS + 1):
        nxt = (
            frontier.join(adjr, frontier["node"] == adjr["u"])
            .filter(
                F.col("rn")
                == ((WALK_LCG_A * (F.col("walk") * 100003 + t * 1009
                                   + F.col("node")) + WALK_LCG_C)
                    % WALK_LCG_M) % F.col("deg") + 1
            )
            .select("walk", F.col("w").alias("node"))
        )
        # checkpoint: each step's frontier feeds BOTH the output union
        # and the next step's join — without it branch w_t of the union
        # re-executes the whole t-join chain, so step t ran (STEPS+1−t)
        # times (10 join executions instead of 4 at STEPS=4; r13 opt)
        frontier = nxt.localCheckpoint(eager=False)
        out = out.unionByName(
            frontier.select("walk", F.lit(t).alias("step"), "node")
        )
    return out.select(
        "walk", F.col("step").cast("long"), F.col("node").cast("long")
    ).orderBy("walk", "step")


graph_random_walks.__doc__ = graph_random_walks.__doc__.format(
    steps=WALK_STEPS, mod=WALK_SRC_MOD
)


# --- k-way partition cut quality (r13) ------------------------------------------
# The graph-sharding metric: when a 100 TB graph is hash-partitioned
# across workers, the fraction of edges crossing shards IS the
# communication bill of every iterative algorithm above. Per shard:
# volume (sum of member degrees), internal edges, cut edges, and
# conductance cut/min(vol, 2m−vol) in exact micros.

_PCUT_K = 8

_PCUT_SQL = f"""
WITH edges AS MATERIALIZED ({_BFS_EDGES_SQL}
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM edges
), deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT x AS u FROM edges UNION ALL SELECT y FROM edges)
  GROUP BY u
), vol AS (
  SELECT u % {_PCUT_K} AS p, CAST(sum(d) AS BIGINT) AS vol,
         CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1
), ec AS (
  SELECT x % {_PCUT_K} AS px, y % {_PCUT_K} AS py FROM edges
), internal AS (
  SELECT px AS p, CAST(count(*) AS BIGINT) AS internal_edges
  FROM ec WHERE px = py GROUP BY 1
), cut AS (
  SELECT p, CAST(count(*) AS BIGINT) AS cut_edges FROM (
    SELECT px AS p FROM ec WHERE px <> py
    UNION ALL
    SELECT py AS p FROM ec WHERE px <> py
  ) GROUP BY p
)
SELECT CAST(v.p AS BIGINT) AS partition_id, v.n_nodes, v.vol,
       COALESCE(i.internal_edges, 0) AS internal_edges,
       COALESCE(c.cut_edges, 0) AS cut_edges,
       CAST(COALESCE(c.cut_edges, 0) * 1000000
            // CASE WHEN v.vol < 2 * m.m - v.vol THEN v.vol
                    ELSE 2 * m.m - v.vol END AS BIGINT) AS conductance_e6
FROM vol v
LEFT JOIN internal i ON i.p = v.p
LEFT JOIN cut c ON c.p = v.p
CROSS JOIN m
ORDER BY partition_id
"""


@_q("graph_partition_cut", _PCUT_SQL)
def graph_partition_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cut quality of the {k}-way modular hash partitioning of the
    repeat graph: per shard, node count, volume, internal edges, cut
    edges (each crossing edge charged to both shards), and conductance
    in exact micros — the communication-cost audit a placement decision
    reads before running anything iterative at cluster scale.

    Scale: one degree groupBy + two edge-side groupBys, all map-side
    combinable on shard ids; the output is K rows at any data size."""
    edges = _repeat_edges(spark, sf_dir).localCheckpoint(eager=False)
    m = edges.agg(F.count("*").cast("long").alias("m"))
    deg = (
        edges.select(F.col("x").alias("u"))
        .unionByName(edges.select(F.col("y").alias("u")))
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("d"))
    )
    vol = deg.groupBy((F.col("u") % _PCUT_K).alias("p")).agg(
        F.sum("d").cast("long").alias("vol"),
        F.count("*").cast("long").alias("n_nodes"),
    )
    ec = edges.select(
        (F.col("x") % _PCUT_K).alias("px"), (F.col("y") % _PCUT_K).alias("py")
    )
    internal = (
        ec.filter(F.col("px") == F.col("py"))
        .groupBy(F.col("px").alias("p"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    crossing = ec.filter(F.col("px") != F.col("py"))
    cut = (
        crossing.select(F.col("px").alias("p"))
        .unionByName(crossing.select(F.col("py").alias("p")))
        .groupBy("p")
        .agg(F.count("*").cast("long").alias("cut_edges"))
    )
    return (
        vol.join(internal, "p", "left")
        .join(cut, "p", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("p").cast("long").alias("partition_id"),
            "n_nodes", "vol",
            F.coalesce("internal_edges", F.lit(0)).cast("long")
            .alias("internal_edges"),
            F.coalesce("cut_edges", F.lit(0)).cast("long").alias("cut_edges"),
            F.expr(
                "CAST(coalesce(cut_edges, 0) * 1000000 div "
                "(CASE WHEN vol < 2 * m - vol THEN vol "
                "ELSE 2 * m - vol END) AS BIGINT)"
            ).alias("conductance_e6"),
        )
        .orderBy("partition_id")
    )


graph_partition_cut.__doc__ = graph_partition_cut.__doc__.format(k=_PCUT_K)
