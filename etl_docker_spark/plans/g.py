"""Graph queries (the g family).

PageRank, triangle counts, hop distances, k-core peeling, hierarchy
rollups, connected components, bounded shortest paths and recursive-CTE
reachability and path costs.

Every builder sits next to the DuckDB oracle that checks it. `QUERIES`
maps each query name to its `(builder, oracle)` pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_docker_spark.plans._util import (_D47_HASHED_CTES,
                                          prefix_jaccard_pairs_frame,
                                          session_conf, t)


# ---------------------------------------------------------------- g01

_PR_ITERS = 5
_PR_S = 1_000_000_000  # rank fixed-point scale (ppb)


def g01_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """PageRank (damping 0.85, 5 iterations) over the customer-supplier
    trade graph, in exact ppb integer fixed point.

    Graph: an undirected edge per distinct (customer, supplier) pair that
    traded (orders x lineitem), materialized as two directed edges; node
    ids are 2*custkey and 2*suppkey+1. Every node then has in- and
    out-degree >= 1, so the plain aggregate form of the recurrence
        pr'(v) = (0.15*S) div N + (85 * sum_{u->v} (pr(u) div outdeg(u))) div 100
    covers every node (no dangling-mass term) and is bit-reproducible in
    any engine — the oracle unrolls the SAME recurrence as a CTE chain.

    Scale shape: the edge list builds once (the orders/lineitem join is the
    only corpus-sized work), DST-partitioned and localCheckpoint'ed with
    its outdegrees. While the rank frame fits a broadcast (node count read
    once off the checkpointed edges — the graph here has ~160k nodes at
    ~sf1), each iteration is then exchange-FREE on the edge side: ranks
    broadcast into the src join, and the dst re-aggregation lands on the
    edges' own partitioning — no edge-width shuffle anywhere, 1.5x
    measured at ~sf1. Past the broadcast bound (a billion-node graph) the
    same loop degrades to the shuffle join of rank-width rows against
    dst-bucketed edges — the fallback branch below, never a shuffle of the
    underlying fact tables either way.
    """
    orders = t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select((F.col("o_custkey") * 2).alias("c"),
                     (F.col("l_suppkey") * 2 + 1).alias("s"))
             .distinct())
    edges = (pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
             .unionAll(pairs.select(F.col("s").alias("src"),
                                    F.col("c").alias("dst"))))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    par = spark.sparkContext.defaultParallelism
    edges = (edges.join(deg, "src")
             .repartition(par, "dst").localCheckpoint())

    # one distinct pass over the edge list serves both the node count and
    # the rank seed (it used to run twice: count_distinct + distinct —
    # at graph scale that distinct IS a full edge aggregation, so halve it);
    # the 16-byte node frame is then the thing counted and re-read
    nodes = edges.select("src").distinct().localCheckpoint()
    n = nodes.count()
    base = (15 * _PR_S) // (100 * n)  # positive ints: // == engine div
    ranks = nodes.select(F.col("src").alias("node"),
                         F.lit(_PR_S // n).cast("long").alias("pr"))
    broadcastable = n <= 500_000
    for _ in range(_PR_ITERS):
        r = F.broadcast(ranks) if broadcastable else ranks
        contrib = (edges.join(r, edges.src == r["node"])
                   .select("dst", F.expr("pr div outdeg").alias("w")))
        ranks = (contrib.groupBy("dst")
                 .agg(F.sum("w").alias("inflow"))
                 .select(F.col("dst").alias("node"),
                         (F.lit(base).cast("long")
                          + F.expr("(85 * inflow) div 100")).alias("pr")))
    return ranks.select("node", F.col("pr").alias("pagerank_ppb"))


def _g01_sql() -> str:
    iters = "".join(
        f""",
p{i + 1} AS (
  SELECT e.dst AS node,
         (15 * CAST({_PR_S} AS BIGINT)) // (100 * (SELECT n FROM nn))
         + (85 * SUM(p{i}.pr // e.outdeg)) // 100 AS pr
  FROM e JOIN p{i} ON e.src = p{i}.node
  GROUP BY e.dst
)"""
        for i in range(_PR_ITERS))
    return f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ed AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src),
e AS (SELECT ed.src, ed.dst, deg.outdeg FROM ed JOIN deg USING (src)),
nn AS (SELECT COUNT(DISTINCT src) AS n FROM e),
p0 AS (
  SELECT src AS node, CAST({_PR_S} AS BIGINT) // (SELECT n FROM nn) AS pr
  FROM (SELECT DISTINCT src FROM e)
){iters}
SELECT node, CAST(pr AS BIGINT) AS pagerank_ppb FROM p{_PR_ITERS}
"""


G01_SQL = _g01_sql()


# ---------------------------------------------------------------- g02

_G02_K = 8


def cotrade_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The mutual top-K co-trade edge set (a < b), memoized per session —
    g02 (triangles) and g03 (recursive hop distances) walk the same
    graph, and the distinct+co-pair construction is its whole cost."""
    from etl_docker_spark.llm.index_cache import memo_frame

    def build() -> DataFrame:
        os_ = (t(spark, sf, "lineitem")
               .select("l_orderkey", "l_suppkey").distinct())
        pairs = (os_.alias("x")
                 .join(os_.alias("y"),
                       on=[F.col("x.l_orderkey") == F.col("y.l_orderkey"),
                           F.col("x.l_suppkey") < F.col("y.l_suppkey")])
                 .groupBy(F.col("x.l_suppkey").alias("s1"),
                          F.col("y.l_suppkey").alias("s2"))
                 .agg(F.count("*").alias("n")))
        directed = pairs.unionAll(
            pairs.select(F.col("s2").alias("s1"), F.col("s1").alias("s2"),
                         "n"))
        w = Window.partitionBy("s1").orderBy(F.desc("n"), F.asc("s2"))
        top = (directed.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= _G02_K).select("s1", "s2"))
        mutual = top.intersect(top.select(F.col("s2").alias("s1"),
                                          F.col("s1").alias("s2")))
        return (mutual.filter(F.col("s1") < F.col("s2"))
                .select(F.col("s1").alias("a"), F.col("s2").alias("b")))

    return memo_frame(spark, f"cotrade_edges:{sf}", build, sf_dir=sf)


def g02_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle count over the mutual top-K co-trade graph.

    Graph: suppliers are nodes; each keeps its K strongest co-order
    partners (by co-occurrence count, ties by partner id); an undirected
    edge exists iff BOTH endpoints selected each other. The top-K step is
    what makes a triangle count survive 100 TB: raw co-occurrence graphs
    go DENSE as data accumulates (at 10x bench scale nearly every supplier
    pair has co-traded), and wedge enumeration on a dense graph is
    Theta(N^3). Mutual-kNN bounds every degree by K, so wedges are at most
    C(K,2) per node — linear in nodes forever.

    Plan: one shuffle builds co-occurrence counts from the distinct
    (order, supplier) projection; the top-K window shares that
    partitioning; the edge set (<= K*N/2 rows of two longs) is
    checkpointed once and feeds the two wedge sides and the closing-edge
    probe. Each triangle is counted at its lowest vertex exactly once.
    """
    edges = cotrade_edges(spark, sf)
    tri = (edges.alias("e1")
           .join(edges.alias("e2"), F.col("e1.a") == F.col("e2.a"))
           .filter(F.col("e1.b") < F.col("e2.b"))
           .join(edges.alias("e3"),
                 (F.col("e3.a") == F.col("e1.b"))
                 & (F.col("e3.b") == F.col("e2.b")))
           .agg(F.count("*").alias("n_triangles")))
    nodes = (edges.select(F.col("a").alias("v"))
             .unionAll(edges.select(F.col("b").alias("v")))
             .agg(F.count_distinct("v").alias("n_nodes")))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (nodes.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_triangles"))


def _g02_edge_ctes(edges: str) -> str:
    """The G02 graph in SQL: supplier pairs co-shipping an order, each
    supplier's `_G02_K` heaviest partners, and the mutual top-k edges
    (a < b) as CTE `edges` — the prefix of the G02 and G04 oracles."""
    return f"""os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
pairs AS (
  SELECT x.l_suppkey AS s1, y.l_suppkey AS s2, COUNT(*) AS n
  FROM os x JOIN os y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  GROUP BY 1, 2
),
directed AS (
  SELECT s1, s2, n FROM pairs
  UNION ALL SELECT s2, s1, n FROM pairs
),
top AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           row_number() OVER (PARTITION BY s1 ORDER BY n DESC, s2) AS rn
    FROM directed) WHERE rn <= {_G02_K}
),
{edges} AS (
  SELECT s1 AS a, s2 AS b
  FROM (SELECT s1, s2 FROM top
        INTERSECT SELECT s2 AS s1, s1 AS s2 FROM top)
  WHERE s1 < s2
)"""


G02_SQL = f"""
WITH {_g02_edge_ctes("edges")},
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.a = e2.a AND e1.b < e2.b
  JOIN edges e3 ON e3.a = e1.b AND e3.b = e2.b
),
nn AS (
  SELECT COUNT(DISTINCT v) AS n_nodes
  FROM (SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
),
ne AS (SELECT COUNT(*) AS n_edges FROM edges)
SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri
"""


# ---------------------------------------------------------------- g03

_G03_MAX_HOPS = 4
_G03_SEEDS = 10  # seed suppliers: s_suppkey < 10

# recursion body shared verbatim by both engines: depth-guarded UNION ALL
# BFS; min(depth) per (seed, node) is the true hop distance because every
# shortest path is among the enumerated ones
_G03_RECURSION = f"""
reach (seed, node, depth) AS (
  SELECT a AS seed, b AS node, 1 AS depth FROM {{edges}} WHERE a < {_G03_SEEDS}
  UNION ALL
  SELECT r.seed, e.b AS node, r.depth + 1
  FROM reach r JOIN {{edges}} e ON e.a = r.node
  WHERE r.depth < {_G03_MAX_HOPS}
)
SELECT seed, node, CAST(MIN(depth) AS BIGINT) AS min_hops
FROM reach WHERE node <> seed
GROUP BY seed, node
"""


def _g02_edges(spark: SparkSession, sf: str) -> DataFrame:
    """g02's memoized mutual top-K co-trade edge set, as BOTH directions
    so the recursion walks undirected edges."""
    und = cotrade_edges(spark, sf)
    return und.unionAll(und.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))


def g03_hop_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Min-hop BFS distance (<= 4 hops) from low-id seed suppliers over
    the mutual co-trade graph, via Spark 4's WITH RECURSIVE.

    The edge set is materialized once (checkpoint; K*N rows of two longs)
    and the recursion is pure SQL over it — the same recursion text the
    DuckDB oracle runs. Path multiplicity per seed is bounded by K^hops
    (degree-capped graph), so UNION ALL recursion stays small; the
    per-(seed, node) MIN collapses paths to distances. Iterative
    DataFrame loops (g01's form) remain the choice when per-round
    re-aggregation or convergence tests are needed; this surface covers
    the declarative-recursion idiom.
    """
    _g02_edges(spark, sf).localCheckpoint().createOrReplaceTempView(
        "g03_edges")
    return spark.sql("WITH RECURSIVE "
                     + _G03_RECURSION.format(edges="g03_edges"))


def _g03_sql() -> str:
    edge_ctes = G02_SQL.strip().removeprefix("WITH").rsplit(
        "tri AS (", 1)[0].strip().rstrip(",")
    return f"""
WITH RECURSIVE {edge_ctes},
und AS (
  SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
),
{_G03_RECURSION.format(edges="und")}
"""


# ---------------------------------------------------------------- g04

_G04_K = 3        # core order
_G04_ROUNDS = 3   # bounded unrolled peel rounds (oracle-expressible)


def g04_kcore_peel(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded k-core decomposition on the co-trade graph: three unrolled
    peel rounds (drop nodes with degree < k, induce, repeat), reporting
    surviving nodes and edges after each round.

    k-core is the standard graph-density filter (spam rings, community
    cores). Full peeling is a data-dependent-depth loop (g01/g03's
    iterate-with-cap machinery); the BOUNDED form used here is exactly
    expressible in one static plan on BOTH engines — each round is a
    degree rollup plus two semi-joins against the survivor set, and the
    mutual-top-K construction bounds every degree by K so each round's
    work only shrinks. Convergence inside the bound shows up in the
    output itself (two equal consecutive rounds == fixpoint).
    """
    edges = cotrade_edges(spark, sf)
    cur = edges
    rounds = []
    for r in range(1, _G04_ROUNDS + 1):
        deg = (cur.select(F.col("a").alias("node"))
               .unionAll(cur.select(F.col("b").alias("node")))
               .groupBy("node").agg(F.count("*").alias("deg")))
        alive = deg.filter(F.col("deg") >= _G04_K).select("node")
        cur = (cur.join(alive.withColumnRenamed("node", "a"), "a",
                        "left_semi")
               .join(alive.withColumnRenamed("node", "b"), "b",
                     "left_semi"))
        rounds.append(
            alive.agg(F.count("*").cast("long").alias("n_nodes"))
            .crossJoin(cur.agg(F.count("*").cast("long").alias("n_edges")))
            .select(F.lit(r).cast("long").alias("round"),
                    "n_nodes", "n_edges"))
    out = rounds[0]
    for r_df in rounds[1:]:
        out = out.unionByName(r_df)
    return out


def _g04_sql() -> str:
    parts = [f"""
WITH {_g02_edge_ctes("e0")}"""]
    for r in range(1, _G04_ROUNDS + 1):
        parts.append(f""",
deg{r} AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT a AS node FROM e{r - 1}
    UNION ALL SELECT b AS node FROM e{r - 1}
  ) GROUP BY node
),
alive{r} AS (SELECT node FROM deg{r} WHERE deg >= {_G04_K}),
e{r} AS (
  SELECT e.a, e.b FROM e{r - 1} e
  JOIN alive{r} x ON e.a = x.node
  JOIN alive{r} y ON e.b = y.node
)""")
    union = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM alive{r}) AS n_nodes, "
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(1, _G04_ROUNDS + 1))
    parts.append("\n" + union)
    return "".join(parts)


# ---------------------------------------------------------------- g05

_G05_DEPTH = 7     # covers part keys < 10^6 at any corpus scale here
_G05_TOP = 100     # report the top three levels (nodes 0..99)


def g05_hierarchy_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical subtree rollup over an N-ary hierarchy encoded in the
    part key (parent = p_partkey div 10 — node k's children are
    10k..10k+9, root 0): per top-level node, descendant count and
    DECIMAL-exact subtree retail value.

    The Spark-first shape for FIXED-DEPTH hierarchies (org charts,
    category trees, chart-of-accounts): instead of an iterative
    bottom-up loop (depth x shuffles), each row explodes into its <= 7
    ancestor prefixes — path enumeration — and one map-side-combinable
    aggregation rolls every subtree up in a single shuffle of
    (node, value) pairs. 100 TB shape: explode factor = tree depth (a
    constant), the filter to reported nodes pushes below the aggregate,
    and no iteration barriers exist at all. Unbounded-depth hierarchies
    fall back to g03's iterative-BFS machinery; depth here is a declared
    bound, asserted in the plan (keys >= 10^7 would silently truncate).
    """
    from etl_docker_spark.plans._util import dsum, t

    part = t(spark, sf, "part").select("p_partkey", "p_retailprice")
    ancestors = F.array_distinct(F.array(
        *[F.expr(f"p_partkey div {10 ** k}") for k in range(_G05_DEPTH)]))
    anc = (part.select("p_retailprice", F.explode(ancestors).alias("node"))
           .filter(F.col("node") < _G05_TOP))
    depth = (F.when(F.col("node") == 0, F.lit(0))
             .otherwise(F.length(F.col("node").cast("string")))
             .cast("long"))
    return (anc.groupBy("node")
            .agg(F.count("*").alias("n_desc"),
                 dsum("p_retailprice").alias("subtree_value"))
            .select("node", depth.alias("depth"), "n_desc",
                    "subtree_value"))


G05_SQL = f"""
WITH anc AS (
  SELECT p_retailprice,
         unnest(list_distinct([
           {", ".join(f"p_partkey // {10 ** k}" for k in range(_G05_DEPTH))}
         ])) AS node
  FROM part
)
SELECT node,
       CAST(CASE WHEN node = 0 THEN 0
                 ELSE length(CAST(node AS VARCHAR)) END AS BIGINT) AS depth,
       COUNT(*) AS n_desc,
       CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,4))) AS VARCHAR)
            AS DOUBLE) AS subtree_value
FROM anc
WHERE node < {_G05_TOP}
GROUP BY node
"""


# ---------------------------------------------------------------- g06


def g06_cc_largestar(spark: SparkSession, sf: str) -> DataFrame:
    """Full dedup-cluster labeling of the exact-Jaccard pair graph by
    large-star/small-star alternation (Kiveris et al. SoCC'14) — the
    connected-components formulation for graphs whose DIAMETER or skew
    defeats label propagation: each round is two edge-list rewrites
    bounded by |E| shuffle volume, edges migrate toward the component
    minimum (the graph itself contracts), and convergence is O(log^2 n)
    rounds regardless of diameter. The pointer-jumping CC
    (operators/graph.py:connected_components, used by d08/d48) stays
    the cheap choice for shallow dup clusters; this is the one that
    survives a 100 TB web-crawl graph with million-node chains.
    Identical output contract to the other CC — the gate pins the full
    (doc_id, cluster_id) labeling against the oracle's transitive
    closure, and tests pin cross-algorithm equality on random graphs.

    Consumes the session-memoized d47 pair frame (the shingle pass and
    prefix join are paid once across d47/d48/g06)."""
    from etl_docker_spark.operators.graph import (
        connected_components_two_phase)

    return (connected_components_two_phase(
        prefix_jaccard_pairs_frame(spark, sf),
        src="doc_a", dst="doc_b")
        .select(F.col("node").alias("doc_id"),
                F.col("label").alias("cluster_id")))


G06_SQL = f"""
WITH RECURSIVE {_D47_HASHED_CTES},
hs AS (SELECT doc_id, list_distinct(hh) AS hs FROM hashed),
tokx AS (SELECT doc_id, unnest(hs) AS h FROM hs),
pre AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_n
  FROM tokx a JOIN tokx b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT p.doc_a, p.doc_b
  FROM pre p
  JOIN hs sa ON sa.doc_id = p.doc_a
  JOIN hs sb ON sb.doc_id = p.doc_b
  WHERE 2 * p.inter_n >= len(sa.hs) + len(sb.hs) - p.inter_n
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a AS node, b AS other FROM edges
  UNION
  SELECT r.node, e.b FROM reach r JOIN edges e ON r.other = e.a
)
SELECT node AS doc_id, LEAST(node, MIN(other)) AS cluster_id
FROM reach GROUP BY node
"""


# ---------------------------------------------------------------- g07

_G07_SEEDS = 10     # seed suppliers: s_suppkey < 10 (g03's seed set)
_G07_MAX_HOPS = 4   # bounded-hop horizon, matching g03's BFS


def _g07_weighted_edges(spark: SparkSession, sf: str) -> DataFrame:
    """g02's mutual top-K co-trade edge set, both directions, with a
    deterministic symmetric integer weight (md5 of the unordered pair)
    standing in for a learned edge cost — same values in both engines."""
    und = cotrade_edges(spark, sf)
    und = und.unionAll(und.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))
    w = (F.conv(F.substring(F.md5(F.concat_ws(
        "_", F.least("a", "b"), F.greatest("a", "b"))), 1, 8), 16, 10)
        .cast("long") % 99 + 1)
    return und.select("a", "b", w.alias("w"))


def g07_bounded_sssp(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-hop weighted shortest paths (Bellman-Ford relaxation)
    from the g03 seed set over the weighted co-trade graph — the
    ITERATIVE-DataFrame counterpart of g03's declarative recursion: g03
    gates WITH RECURSIVE computing min-HOP distance; this gates the
    per-round relax loop computing min-COST, the shape you need when
    the recursion must re-AGGREGATE between rounds (recursive CTEs
    can't fold a MIN per frontier, so path enumeration there is bounded
    only by degree — the relax loop keeps exactly one row per (seed,
    node) between rounds instead).

    Per round: one |frontier| x |E| equi-join shuffle partitioned on
    the node key, then a min-aggregate sharing that partitioning; the
    frame is localCheckpoint'd so the plan stays flat across rounds
    (g01's discipline). Early exit when a round improves nothing —
    detected with a bounded left-anti count (a driver-side SCALAR per
    round, q90's control-flow class, never row data). Rounds are capped
    at the hop horizon so results equal the oracle's depth-guarded
    enumeration: min cost over paths of <= 4 edges, which also keeps
    the oracle's UNION ALL recursion inside the degree-capped K^hops
    bound at any corpus size. The relax loop is
    `operators/graph.py:bounded_sssp` (brute-force-pinned in
    tests/test_round6.py).
    """
    from etl_docker_spark.operators.graph import bounded_sssp

    edges = _g07_weighted_edges(spark, sf).localCheckpoint()
    dist = bounded_sssp(edges, F.col("a") < _G07_SEEDS, _G07_MAX_HOPS)
    return dist.filter(F.col("seed") != F.col("node")) \
        .select("seed", "node", F.col("cost").cast("long").alias("min_cost"))


def _g07_sql() -> str:
    edge_ctes = G02_SQL.strip().removeprefix("WITH").rsplit(
        "tri AS (", 1)[0].strip().rstrip(",")
    return f"""
WITH RECURSIVE {edge_ctes},
und AS (
  SELECT a, b,
         CAST('0x' || substring(md5(CAST(least(a, b) AS VARCHAR) || '_'
                                    || CAST(greatest(a, b) AS VARCHAR)),
                                1, 8) AS BIGINT) % 99 + 1 AS w
  FROM (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges)
),
reach (seed, node, cost, depth) AS (
  SELECT a AS seed, b AS node, w AS cost, 1 AS depth
  FROM und WHERE a < {_G07_SEEDS}
  UNION ALL
  SELECT r.seed, e.b AS node, r.cost + e.w, r.depth + 1
  FROM reach r JOIN und e ON e.a = r.node
  WHERE r.depth < {_G07_MAX_HOPS}
)
SELECT seed, node, CAST(MIN(cost) AS BIGINT) AS min_cost
FROM reach WHERE node <> seed
GROUP BY seed, node
"""


# ---------------------------------------------------------------- g08

_G08_DEPTH = 6

# shared arithmetic: functional graph on the customer key domain,
# dst = (31 * src + 17) mod N — out-degree exactly 1, so the frontier
# is N rows at EVERY depth (bounded state, no fan-out blowup)
_G08_EDGES = ("SELECT CAST(c_custkey AS BIGINT) AS src, "
              "(31 * CAST(c_custkey AS BIGINT) + 17) "
              "% (SELECT COUNT(*) FROM {CUST}) AS dst FROM {CUST}")

_G08_SPARK = """
WITH RECURSIVE edges AS (
  {EDGES}
), reach(src, node, depth) AS (
  SELECT src, src AS node, 0 AS depth FROM edges
  UNION ALL
  SELECT r.src, e.dst AS node, r.depth + 1 AS depth
  FROM reach r JOIN edges e ON r.node = e.src
  WHERE r.depth < {DEPTH}
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct,
       CAST(SUM(node) AS BIGINT) AS sum_node
FROM reach GROUP BY depth
"""


def g08_recursive_reachability(spark: SparkSession,
                               sf: str) -> DataFrame:
    """Bounded reachability over a functional graph via WITH RECURSIVE
    — SQL-native iteration, newly live this round (g01-g07 loop on the
    driver). Out-degree is exactly 1 by construction, so every depth's
    frontier is |V| rows: the recursion's working set is bounded and
    each step is one equi-join, the shape that survives scale (a
    fan-out graph would need the g07-style frontier-dedup loop
    instead). The edges derivation (including its scalar COUNT(*)
    modulus subquery) is hoisted into a non-recursive named CTE so the
    recursive term references it instead of re-deriving it per step
    (r10 ADVICE). The ORACLE unrolls the recursion into six explicit
    join levels — no WITH RECURSIVE — so Spark's brand-new recursive
    executor is gated against a formulation that does not share it.
    """
    name = f"g08_cust_{abs(hash(sf)) % 10 ** 8}"
    t(spark, sf, "customer").createOrReplaceTempView(name)
    sql = (_G08_SPARK
           .replace("{EDGES}", _G08_EDGES.replace("{CUST}", name))
           .replace("{DEPTH}", str(_G08_DEPTH)))
    return spark.sql(sql)


def _g08_unrolled_oracle() -> str:
    edges = _G08_EDGES.replace("{CUST}", "customer")
    levels = ["SELECT src, src AS node, 0 AS depth FROM edges"]
    for d in range(1, _G08_DEPTH + 1):
        levels.append(
            f"SELECT r.src, e.dst AS node, {d} AS depth "
            f"FROM lvl{d - 1} r JOIN edges e ON r.node = e.src")
    ctes = ["edges AS (" + edges + ")"]
    ctes += [f"lvl{d} AS ({q})" for d, q in enumerate(levels)]
    union = " UNION ALL ".join(
        f"SELECT * FROM lvl{d}" for d in range(_G08_DEPTH + 1))
    return (
        "WITH " + ", ".join(ctes) + ", reach AS (" + union + ") "
        "SELECT CAST(depth AS BIGINT) AS depth, "
        "CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(COUNT(DISTINCT node) AS BIGINT) AS n_distinct, "
        "CAST(SUM(node) AS BIGINT) AS sum_node "
        "FROM reach GROUP BY depth")


G08_SQL = _g08_unrolled_oracle()


# ---------------------------------------------------------------- g09

# forest: parent(v) = v div 2 (v > 0; 0 is the root), edge cost
# v % 10 + 1 — depth is data-dependent (~log2 of the key domain), so
# the Spark side recursion carries NO literal depth bound: termination
# comes from the cur > 0 guard alone.
_G09_SPARK = """
WITH RECURSIVE walk(node, cur, acc, depth) AS (
  SELECT CAST(c_custkey AS BIGINT) AS node,
         CAST(c_custkey AS BIGINT) AS cur,
         CAST(0 AS BIGINT) AS acc, 0 AS depth
  FROM {CUST}
  UNION ALL
  SELECT node, cur div 2 AS cur, acc + cur % 10 + 1 AS acc,
         depth + 1 AS depth
  FROM walk WHERE cur > 0
)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(acc) AS BIGINT) AS sum_cost,
       CAST(MAX(acc) AS BIGINT) AS max_cost
FROM walk GROUP BY depth
"""

# the oracle only ever runs at the sf0.01/sf0.001 gate scale, where the
# key domain is <= 15,000 -> walk depth <= 14; unroll 20 levels with the
# same cur > 0 guard (levels past the deepest walk contribute 0 rows)
_G09_UNROLL = 20


def g09_recursive_path_cost(spark: SparkSession, sf: str) -> DataFrame:
    """Root-walk cost accumulation over a binary forest via
    WITH RECURSIVE — the accumulating, data-dependent-depth recursion
    shape (g08 is fixed-depth, non-accumulating). Every customer walks
    parent(v) = v div 2 to the root accumulating deterministic edge
    costs; output is per-depth frontier size and cost mass. The ORACLE
    unrolls the same walk into explicit guarded join levels — no
    WITH RECURSIVE — so the recursive executor's termination and
    accumulator handling are both gated against a non-recursive
    formulation.

    Scale shape: the frontier SHRINKS as walks terminate (cur = 0),
    each step is key-local arithmetic with no join at all — the
    recursion never touches a second table; state is O(live walks).
    """
    name = f"g09_cust_{abs(hash(sf)) % 10 ** 8}"
    t(spark, sf, "customer").createOrReplaceTempView(name)
    # The walk accumulates |customers| x depth rows and depth is
    # log2(max key): replica corpora carry keys ~10^9 (depth ~31), so
    # ~sf1 trips the 1M-row default recursion backstop. Same
    # session-level raise and rationale as q87 (plans/q.py) — the limit
    # is a runaway-recursion guard and 50M preserves that role.
    session_conf(spark, "spark.sql.cteRecursionRowLimit",
                 str(50_000_000))
    return spark.sql(_G09_SPARK.replace("{CUST}", name))


def _g09_unrolled_oracle() -> str:
    lvls = ["SELECT CAST(c_custkey AS BIGINT) AS node, "
            "CAST(c_custkey AS BIGINT) AS cur, "
            "CAST(0 AS BIGINT) AS acc, 0 AS depth FROM customer"]
    for d in range(1, _G09_UNROLL + 1):
        lvls.append(
            f"SELECT node, cur // 2 AS cur, acc + cur % 10 + 1 AS acc, "
            f"{d} AS depth FROM lvl{d - 1} WHERE cur > 0")
    ctes = [f"lvl{d} AS ({q})" for d, q in enumerate(lvls)]
    union = " UNION ALL ".join(
        f"SELECT * FROM lvl{d}" for d in range(_G09_UNROLL + 1))
    return (
        "WITH " + ", ".join(ctes) + ", walk AS (" + union + ") "
        "SELECT CAST(depth AS BIGINT) AS depth, "
        "CAST(COUNT(*) AS BIGINT) AS n_nodes, "
        "CAST(SUM(acc) AS BIGINT) AS sum_cost, "
        "CAST(MAX(acc) AS BIGINT) AS max_cost "
        "FROM walk GROUP BY depth")


G09_SQL = _g09_unrolled_oracle()


QUERIES = {
    "g01_pagerank": (g01_pagerank, G01_SQL),
    "g02_triangle_count": (g02_triangle_count, G02_SQL),
    "g03_hop_distance": (g03_hop_distance, _g03_sql()),
    "g04_kcore_peel": (g04_kcore_peel, _g04_sql()),
    "g05_hierarchy_rollup": (g05_hierarchy_rollup, G05_SQL),
    "g06_cc_largestar": (g06_cc_largestar, G06_SQL),
    "g07_bounded_sssp": (g07_bounded_sssp, _g07_sql()),
    "g08_recursive_reachability": (g08_recursive_reachability, G08_SQL),
    "g09_recursive_path_cost": (g09_recursive_path_cost, G09_SQL),
}
