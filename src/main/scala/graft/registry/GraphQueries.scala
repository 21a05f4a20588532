package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators._

import Shared._

/** Graph algorithms over the event graph and their chained-CTE twins.
  */
private[graft] object GraphQueries {

  def records: Seq[Query] = Seq(
    // Weighted PageRank over the origin→destination flow graph (the
    // F7 edges without the top-N cut): which zones are structurally
    // central to the network, not merely busy. Fixed 10-round power
    // iteration, decimal contribution partials — see Graph.pageRank.
    Query("graph_pagerank", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.pageRank(flows, "src", "dst", "w", iterations = 10, damping = 0.85)
    }),
      Sql(pageRankOracleSql(10, 0.85))),

    // Brandes betweenness centrality over the directed nation-flow
    // graph: exact all-sources BFS DAG + backward dependency
    // accumulation — the broker/bottleneck score next to pagerank's
    // flow centrality.
    Query("graph_betweenness", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.betweenness(flows, "src", "dst")
    }),
      // Brandes betweenness unrolled to the registered maxDepth=8:
      // exact BIGINT path counts forward, 1e-9-gridded DECIMAL
      // dependency sums backward — see betweennessOracleSql.
      Sql(betweennessOracleSql(8))),

    // Eccentricity / diameter / radius off the same BFS DAG: the
    // distance EXTREMES where closeness reports the average — how far
    // is each nation's worst reachable destination, and the graph's
    // longest shortest path.
    Query("graph_eccentricity", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.eccentricity(flows, "src", "dst")
    }),
      // Eccentricity/diameter/radius over the same forward chain:
      // per-source max depth + the two-extreme graph panel, exact
      // integers end to end.
      Sql({
      val maxDepth = 8
      val dUnion = (1 to maxDepth)
        .map(l => s"SELECT s, CAST($l AS BIGINT) AS d FROM bl$l")
        .mkString(" UNION ALL ")
      bfsForwardCtes(maxDepth) +
        s""",
           |ereach AS MATERIALIZED (
           |  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
           |    CAST(MAX(d) AS BIGINT) AS ecc
           |  FROM ($dUnion) GROUP BY 1),
           |epn AS MATERIALIZED (
           |  SELECT n.node,
           |    COALESCE(r.n_reached, CAST(0 AS BIGINT)) AS n_reached,
           |    COALESCE(r.ecc, CAST(0 AS BIGINT)) AS eccentricity
           |  FROM bn n LEFT JOIN ereach r ON r.node = n.node)
           |SELECT epn.*, p.diameter, p.radius
           |FROM epn CROSS JOIN (
           |  SELECT MAX(eccentricity) AS diameter,
           |    MIN(CASE WHEN n_reached > 0 THEN eccentricity END) AS radius
           |  FROM epn) p""".stripMargin
    })),

    // Closeness + harmonic centrality from the SAME all-sources BFS
    // DAG: how near each nation is to everything it can reach
    // (Wasserman-Faust disconnected-safe closeness, robust harmonic).
    Query("graph_closeness", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.closeness(flows, "src", "dst")
    }),
      // Closeness/harmonic over the shared forward chain — see
      // closenessOracleSql.
      Sql(closenessOracleSql(8))),

    // HITS hubs/authorities over the same flow graph - the directed
    // role separation pageRank's single score cannot give (a pure
    // exporter nation is a hub, a pure importer an authority).
    Query("graph_hits", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.hits(flows, "src", "dst", "w", iterations = 10)
    }),
      Sql(hitsOracleSql(10))),

    // Synchronous weighted label propagation over the same flow
    // graph: which zones cluster into trade communities. Five fixed
    // rounds, min-label ties, every round one edge join + node-sized
    // argmax panels — see Graph.labelPropagation.
    // Directed-edge reciprocity of the trade-flow graph: share of
    // distinct flows whose reverse flow also exists (1-row panel).
    // Out-degree distribution of the customer→supplier purchase graph
    // (row-scale nodes, panel-sized histogram) + the log-log power-law
    // slope — the hub-tail read before salting any iterative graph op.
    Query("graph_degree_dist", ((s: SparkSession, d: String) => {
      val edges = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      Graph.degreeDistribution(edges, "src", "dst")
    }),
      // Graph.degreeDistribution mirrored: distinct customer→supplier
      // edges, degree panel, histogram + the zipfFit log-log OLS grids.
      Sql("""WITH e AS (
        |  SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS u,
        |    CAST(l_suppkey AS VARCHAR) AS v
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY 1),
        |hist AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_nodes) AS BIGINT) AS t FROM hist),
        |pts AS (
        |  SELECT FLOOR(LN(CAST(degree AS DOUBLE)) * 1e6) / 1e6 AS lx,
        |    FLOOR(LN(CAST(n_nodes AS DOUBLE)) * 1e6) / 1e6 AS ly
        |  FROM hist),
        |moms AS (
        |  SELECT COUNT(*) AS k,
        |    SUM(CAST(FLOOR(lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sx,
        |    SUM(CAST(FLOOR(ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sy,
        |    SUM(CAST(FLOOR(lx * ly * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxy,
        |    SUM(CAST(FLOOR(lx * lx * 1e8) / 1e8 AS DECIMAL(28,8))) AS sxx
        |  FROM pts WHERE lx IS NOT NULL),
        |fit AS (
        |  SELECT (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / NULLIF(k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)
        |    AS powerlaw_slope
        |  FROM moms)
        |SELECT degree, n_nodes,
        |  CAST(n_nodes AS DOUBLE) / CAST(t AS DOUBLE) AS node_share,
        |  powerlaw_slope
        |FROM hist CROSS JOIN tot CROSS JOIN fit""".stripMargin)),

    Query("graph_reciprocity", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
      Graph.reciprocity(flows, "src", "dst")
    }),
      // Graph.reciprocity: distinct directed flows left-joined to
      // their own reversal, a 1-row panel.
      Sql("""WITH e AS (
        |  SELECT DISTINCT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name),
        |r AS (SELECT dst AS src, src AS dst, 1 AS rr FROM e)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |  CAST(SUM(CASE WHEN r.rr IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocated,
        |  CAST(SUM(CASE WHEN r.rr IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS reciprocity
        |FROM e LEFT JOIN r ON r.src = e.src AND r.dst = e.dst""".stripMargin)),

    // Directed BFS hop distance from NATION_3 over the trade-flow
    // graph — the reachability panel next to pagerank's centrality:
    // frontier relaxation with one edge pass + scalar delta per round.
    Query("graph_bfs_hops", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.bfsHops(flows, "src", "dst", source = "NATION_3")
    }),
      // Graph.bfsHops replayed as the recursive min-hop CTE (the
      // dedup_clusters walk convention, depth-bounded to the
      // operator's maxRounds).
      Sql("""WITH RECURSIVE e0 AS MATERIALIZED (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name
        |  GROUP BY 1, 2),
        |walk(node, d) AS (
        |  SELECT 'NATION_3' AS node, 0 AS d
        |  WHERE EXISTS (SELECT 1 FROM e0
        |                WHERE src = 'NATION_3' OR dst = 'NATION_3')
        |  UNION
        |  SELECT e.dst, w.d + 1 FROM e0 e JOIN walk w ON w.node = e.src
        |  WHERE w.d < 32)
        |SELECT node, CAST(MIN(d) AS BIGINT) AS hops
        |FROM walk GROUP BY 1""".stripMargin)),

    Query("graph_label_propagation", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.labelPropagation(flows, "src", "dst", "w", rounds = 5)
    }),
      Sql(labelPropOracleSql(5))),

    // Newman modularity of those communities: per community
    // Q_c = W_c/W - (S_c/2W)^2 over the undirected weighted edges —
    // the partition-quality score next to the partition itself.
    Query("graph_modularity", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      Graph.modularity(flows, "src", "dst", "w", rounds = 5)
    }),
      Sql(modularityOracleSql(5))),

    // k-core membership over the item co-purchase graph (edges =
    // capped user-level co-occurrence with support >= 4): six fixed
    // peel rounds, exact integer degrees — the degeneracy filter
    // separating the dense co-purchase core from the long tail.
    Query("graph_k_core", ((s: SparkSession, d: String) => {
      // checkpointed: both sides of the pair self-join reuse it
      val inter = graft.operators.Ckpt.partitioned(Recsys.interactions(
        t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey")),
        "o_custkey", "l_partkey", userCap = 1000))
      val edges = Recsys.coOccurrenceCounts(inter)
        .select(col("item_a").as("ia"), col("item_b").as("ib"),
          col("n_both").as("nb"))
        .filter(col("nb") >= 4)
      Graph.kCore(edges, "ia", "ib", k = 3, rounds = 6)
    }),
      Sql(kCoreOracleSql(3, 6))),

    // Minimum spanning forest (Borůvka rounds) over the nation-flow
    // graph weighted by total flow value — the cheapest backbone
    // connecting every zone. ORACLE-CHECKED since r13: the forest is
    // unique under the (w,u,v) total edge order, so the oracle
    // replays it as recursive Kruskal (no Borůvka mirror needed);
    // also spec-pinned against a driver-side Kruskal on seeded
    // random graphs.
    Query("graph_mst", ((s: SparkSession, d: String) => {
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .agg(round(sum(money(col("l_extendedprice"))), 2)
          .cast("double").as("w"))
      Graph.minSpanningForest(flows, "src", "dst", "w")
    }),
      // Graph.minSpanningForest replayed as RECURSIVE KRUSKAL: the
      // forest is UNIQUE under the (w, u, v) total edge order (the
      // operator's documented tie-break argument), so the oracle need
      // not mirror Borůvka — any MST algorithm over the same ordered
      // edge list yields the identical edge set. Kruskal runs as a
      // recursive CTE over edge ranks: state = (step, node, comp),
      // one step per edge, comps merge to their min label when the
      // edge bridges two components (min-label merging reproduces the
      // operator's final min-node component labels). The recursion is
      // panel-sized (25 nations x ~canon-edge steps).
      Sql("""WITH RECURSIVE flows AS MATERIALIZED (
        |  SELECT s_nationkey AS src, c_nationkey AS dst,
        |    CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY 1, 2),
        |canon AS MATERIALIZED (
        |  SELECT CAST(LEAST(src, dst) AS BIGINT) AS u,
        |    CAST(GREATEST(src, dst) AS BIGINT) AS v, MIN(w) AS w
        |  FROM flows GROUP BY 1, 2),
        |nodes AS MATERIALIZED (
        |  SELECT DISTINCT node FROM (
        |    SELECT u AS node FROM canon UNION ALL SELECT v FROM canon)),
        |-- MATERIALIZED is load-bearing: `ranked` is referenced inside
        |-- the recursive term, so without it DuckDB re-evaluates the
        |-- row-scale flows join once PER RECURSION STEP (measured
        |-- >240s at the 10x replica vs ~2s materialized)
        |ranked AS MATERIALIZED (
        |  SELECT u, v, w, ROW_NUMBER() OVER (ORDER BY w, u, v) AS r
        |  FROM canon),
        |kr(step, node, comp) AS (
        |  SELECT CAST(0 AS BIGINT), node, node FROM nodes
        |  UNION ALL
        |  SELECT step + 1, node,
        |    CASE WHEN cu IS NOT NULL AND cv IS NOT NULL AND cu <> cv
        |              AND comp IN (cu, cv)
        |         THEN LEAST(cu, cv) ELSE comp END
        |  FROM (
        |    SELECT k.step, k.node, k.comp,
        |      MAX(CASE WHEN k.node = e.u THEN k.comp END) OVER () AS cu,
        |      MAX(CASE WHEN k.node = e.v THEN k.comp END) OVER () AS cv
        |    FROM kr k JOIN ranked e ON e.r = k.step + 1)),
        |fin AS (
        |  SELECT node, comp FROM kr
        |  WHERE step = (SELECT COUNT(*) FROM ranked))
        |SELECT e.u, e.v, e.w, CAST(f.comp AS BIGINT) AS comp
        |FROM ranked e
        |JOIN kr su ON su.step = e.r - 1 AND su.node = e.u
        |JOIN kr sv ON sv.step = e.r - 1 AND sv.node = e.v
        |JOIN fin f ON f.node = e.u
        |WHERE su.comp <> sv.comp""".stripMargin)),

    // Connected components over the STRONG half of the trade-flow
    // graph (bilateral flow ≥ the median edge weight — a scale-free
    // threshold that fragments the graph at any SF): per component,
    // size and the node-id span. Labels come from the min-label
    // fixpoint (TextDedup.connectedComponents); the oracle replays it
    // as a recursive reachability CTE.
    Query("graph_components", ((s: SparkSession, d: String) => {
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .agg(sum(money(col("l_extendedprice"))).as("__wdec"))
      val edges = flows
        .groupBy(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .agg(sum(col("__wdec")).cast("double").as("w"))
      val med = edges.agg(percentile(col("w"), lit(0.5)).as("m"))
      val strong = edges.crossJoin(broadcast(med))
        .filter(col("w") >= col("m"))
        .select(col("u"), col("v"))
      TextDedup.connectedComponents(strong, "u", "v")
        .groupBy(col("cluster_id").as("component_id"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("doc_id")).as("node_min"),
          max(col("doc_id")).as("node_max"))
    }),
      // Connected components over the median-thresholded flow graph:
      // the min-label fixpoint replayed as recursive reachability
      // (the svc_hotspot_clusters walk pattern).
      Sql("""WITH RECURSIVE flows AS (
        |  SELECT s_nationkey AS src, c_nationkey AS dst,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS wdec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
        |    CAST(SUM(wdec) AS DOUBLE) AS w
        |  FROM flows GROUP BY 1, 2),
        |med AS (SELECT quantile_cont(w, 0.5) AS m FROM edges),
        |strong AS (SELECT u, v FROM edges, med WHERE w >= m),
        |e2 AS (SELECT u AS src, v AS dst FROM strong
        |       UNION ALL SELECT v, u FROM strong),
        |walk(id, label) AS (
        |  SELECT src, src FROM e2
        |  UNION
        |  SELECT e.src, w.label FROM e2 e JOIN walk w ON w.id = e.dst),
        |lab AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
        |SELECT CAST(cluster_id AS BIGINT) AS component_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |  CAST(MIN(id) AS BIGINT) AS node_min,
        |  CAST(MAX(id) AS BIGINT) AS node_max
        |FROM lab GROUP BY 1""".stripMargin)),

    // Triangle enumeration over the same nation-flow graph (edges
    // canonicalized undirected): closed 3-cliques = the tightly
    // coupled trade triads. Two co-keyed joins, orientation-bounded
    // fan-out, each triangle emitted exactly once — see
    // Graph.triangles.
    Query("graph_triangles", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
      Graph.triangles(flows, "src", "dst")
    }),
      Sql("""WITH flows AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name),
        |e AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM flows),
        |w AS (
        |  SELECT ab.a AS node_a, ab.b AS node_b, ac.b AS node_c
        |  FROM e ab JOIN e ac ON ab.a = ac.a AND ab.b < ac.b)
        |SELECT node_a, node_b, node_c
        |FROM w JOIN e bc ON w.node_b = bc.a AND w.node_c = bc.b""".stripMargin)),

    // Degree assortativity of the flow graph: Pearson r of endpoint
    // degrees over both edge orientations — hub-to-hub vs
    // hub-and-spoke mixing in one scalar; exact integer moments.
    Query("graph_assortativity", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
      Graph.assortativity(flows, "src", "dst")
    }),
      // Same nation-flow edges, canonicalized undirected; the a<b<c
      // orientation generates each triangle exactly once.
      // Graph.assortativity mirrored: canonical edges, degree panel,
      // exact decimal moments, fixed-order IEEE r on the 1-row panel.
      Sql("""WITH flows AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name),
        |e AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM flows),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY 1),
        |wd AS (
        |  SELECT CAST(da.degree AS DECIMAL(19,0)) AS da,
        |         CAST(db.degree AS DECIMAL(19,0)) AS db
        |  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
        |    SUM(da + db) AS s1, SUM(da * da + db * db) AS s2,
        |    SUM(da * db) AS sdd
        |  FROM wd),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT n_nodes, n_edges,
        |  (2.0 * CAST(sdd AS DOUBLE) / CAST(2 * n_edges AS DOUBLE)
        |     - (CAST(s1 AS DOUBLE) / CAST(2 * n_edges AS DOUBLE))
        |       * (CAST(s1 AS DOUBLE) / CAST(2 * n_edges AS DOUBLE)))
        |  / NULLIF(CAST(s2 AS DOUBLE) / CAST(2 * n_edges AS DOUBLE)
        |     - (CAST(s1 AS DOUBLE) / CAST(2 * n_edges AS DOUBLE))
        |       * (CAST(s1 AS DOUBLE) / CAST(2 * n_edges AS DOUBLE)), 0.0)
        |  AS assortativity
        |FROM m, nn""".stripMargin)),

    // Local clustering coefficient per zone over the same flow graph:
    // degree + incident-triangle panels, one terminal division.
    Query("graph_clustering_coeff", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
      Graph.clusteringCoeff(flows, "src", "dst")
    }),
      // Degree and incident-triangle panels over the same canonical
      // edges; integer-exact until the one terminal division.
      Sql("""WITH flows AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name),
        |e AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM flows),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |  GROUP BY 1),
        |w AS (
        |  SELECT ab.a AS node_a, ab.b AS node_b, ac.b AS node_c
        |  FROM e ab JOIN e ac ON ab.a = ac.a AND ab.b < ac.b),
        |tri AS (
        |  SELECT node_a, node_b, node_c
        |  FROM w JOIN e bc ON w.node_b = bc.a AND w.node_c = bc.b),
        |tc AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT node_a AS node FROM tri
        |        UNION ALL SELECT node_b AS node FROM tri
        |        UNION ALL SELECT node_c AS node FROM tri)
        |  GROUP BY 1)
        |SELECT d.node, d.degree,
        |  COALESCE(tc.n_triangles, 0) AS n_triangles,
        |  CASE WHEN d.degree >= 2 THEN
        |    CAST(2 * COALESCE(tc.n_triangles, 0) AS DOUBLE)
        |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |  ELSE 0.0 END AS clustering
        |FROM deg d LEFT JOIN tc ON d.node = tc.node""".stripMargin)),

    // Link prediction over the TOP-DECILE flow graph: the full
    // nation graph is complete (every pair trades a little), which
    // makes link prediction vacuous — keeping only edges at/above
    // the exact p90 flow count leaves the heavy-trade backbone
    // (~60 of 276 possible edges), where "which strong edges should
    // exist next" is a real question. Threshold = one broadcast
    // 1-row exact percentile (the winsorize parity); then wedge join
    // + one pair partial agg + left-anti on the edge list; AA's ln
    // is safe by construction (shared neighbors have degree >= 2)
    // and grid-quantized before its decimal partial.
    Query("graph_link_prediction", ((s: SparkSession, d: String) => {
      val nation = t(s, d, "nation")
      val flows = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation.select(col("n_nationkey").as("__ok"),
          col("n_name").as("src"))), col("s_nationkey") === col("__ok"))
        .join(broadcast(nation.select(col("n_nationkey").as("__dk"),
          col("n_name").as("dst"))), col("c_nationkey") === col("__dk"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      val thr = flows.agg(expr("percentile(w, 0.9)").as("__thr"))
      val sparse = flows.crossJoin(broadcast(thr))
        .filter(col("w") >= col("__thr"))
      Graph.linkPrediction(sparse, "src", "dst")
    }),
      // Link-prediction replay: wedge pairs per shared neighbor,
      // 1/ln(deg(w)) grid-quantized into DECIMAL(28,6) partials,
      // NOT EXISTS drops adjacent pairs, raw Jaccard quotient.
      Sql("""WITH flows AS (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, COUNT(*) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(w, 0.9) AS t FROM flows),
        |sparse AS (SELECT src, dst FROM flows, thr WHERE w >= t),
        |e AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM sparse),
        |nbr AS (
        |  SELECT a AS node, b AS nb FROM e
        |  UNION ALL SELECT b AS node, a AS nb FROM e),
        |deg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        |  FROM nbr GROUP BY 1),
        |wedge AS (
        |  SELECT l.node AS node_a, r.node AS node_b, l.nb AS w
        |  FROM nbr l JOIN nbr r ON l.nb = r.nb AND l.node < r.node),
        |pairs AS (
        |  SELECT node_a, node_b, CAST(COUNT(*) AS BIGINT) AS n_common,
        |    SUM(CAST(FLOOR((1.0 / ln(CAST(dw.degree AS DOUBLE))) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS aa
        |  FROM wedge JOIN deg dw ON wedge.w = dw.node
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT * FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM e
        |    WHERE e.a = p.node_a AND e.b = p.node_b))
        |SELECT c.node_a, c.node_b, c.n_common,
        |  da.degree AS deg_a, db.degree AS deg_b,
        |  CAST(c.n_common AS DOUBLE)
        |    / CAST(da.degree + db.degree - c.n_common AS DOUBLE) AS jaccard,
        |  CAST(c.aa AS DOUBLE) AS adamic_adar
        |FROM cand c
        |JOIN deg da ON c.node_a = da.node
        |JOIN deg db ON c.node_b = db.node""".stripMargin))
  )

  /** The forward half of the Brandes chain, shared by the betweenness
    * and closeness oracles: canonical nation-flow edges `be`, node
    * panel `bn`, per-level frontiers `bl{l}` with exact BIGINT path
    * counts, cumulative reached sets `br{l}`.
    */
  private def bfsForwardCtes(maxDepth: Int): String = {
    val head =
      """WITH be AS MATERIALIZED (
        |  SELECT sn.n_name AS src, cn.n_name AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name
        |  GROUP BY 1, 2),
        |bn AS MATERIALIZED (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM be UNION ALL SELECT dst FROM be)),
        |bl0 AS MATERIALIZED (
        |  SELECT node AS s, node AS v, CAST(1 AS BIGINT) AS sigma FROM bn),
        |br0 AS MATERIALIZED (SELECT s, v FROM bl0)""".stripMargin
    val fwd = (1 to maxDepth).map { l =>
      s"""bl$l AS MATERIALIZED (
         |  SELECT s, v, sigma FROM (
         |    SELECT p.s, be.dst AS v, CAST(SUM(p.sigma) AS BIGINT) AS sigma
         |    FROM bl${l - 1} p JOIN be ON p.v = be.src
         |    GROUP BY 1, 2) f
         |  ANTI JOIN br${l - 1} USING (s, v)),
         |br$l AS MATERIALIZED (
         |  SELECT s, v FROM br${l - 1} UNION ALL SELECT s, v FROM bl$l)""".stripMargin
    }
    (head +: fwd).mkString(",\n")
  }

  /** Closeness/harmonic oracle over the shared forward chain: per
    * source the reached count, total out-distance, 1e-9-gridded
    * harmonic sum and the two-factor Wasserman–Faust closeness —
    * the identical IEEE sequence as Graph.closeness.
    */
  private def closenessOracleSql(maxDepth: Int): String = {
    val dUnion = (1 to maxDepth)
      .map(l => s"SELECT s, CAST($l AS BIGINT) AS d FROM bl$l")
      .mkString(" UNION ALL ")
    bfsForwardCtes(maxDepth) +
      s""",
         |creach AS MATERIALIZED (
         |  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |    CAST(SUM(d) AS BIGINT) AS total_dist,
         |    CAST(SUM(CAST(FLOOR(1.0 / CAST(d AS DOUBLE) * 1e9) / 1e9
         |                  AS DECIMAL(28,9))) AS DOUBLE) AS harmonic
         |  FROM ($dUnion) GROUP BY 1)
         |SELECT n.node,
         |  COALESCE(r.n_reached, CAST(0 AS BIGINT)) AS n_reached,
         |  COALESCE(r.total_dist, CAST(0 AS BIGINT)) AS total_dist,
         |  COALESCE(r.harmonic, 0.0) AS harmonic,
         |  CASE WHEN COALESCE(r.n_reached, CAST(0 AS BIGINT)) = 0 THEN 0.0
         |       ELSE FLOOR((CAST(r.n_reached AS DOUBLE) / CAST(c.n - 1 AS DOUBLE))
         |                  * (CAST(r.n_reached AS DOUBLE) / CAST(r.total_dist AS DOUBLE))
         |                  * 1e9) / 1e9 END AS closeness_wf
         |FROM bn n
         |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bn) c
         |LEFT JOIN creach r ON r.node = n.node""".stripMargin
  }

  /** Brandes betweenness oracle, unrolled to the SAME `maxDepth` as
    * the registered query: forward level CTEs `bl{l}` (exact BIGINT
    * path counts, anti-joined against the reached set `br{l}`), then
    * backward dependency CTEs `bd{l}` — each term the identical
    * (σv/σw)·(1+δw) IEEE sequence floor-gridded to 1e-9 into a
    * DECIMAL(28,9) per-(s,v) sum. Levels past the graph's true depth
    * are empty relations and contribute nothing, exactly like the
    * Spark loop that stops at the empty frontier.
    */
  private def betweennessOracleSql(maxDepth: Int): String = {
    val back = (maxDepth - 1) to 0 by -1 map { l =>
      s"""bd$l AS MATERIALIZED (
         |  SELECT lv.s, lv.v, COALESCE(t.delta, 0.0) AS delta
         |  FROM bl$l lv LEFT JOIN (
         |    SELECT s, v, CAST(SUM(term) AS DOUBLE) AS delta FROM (
         |      SELECT p.s, p.v,
         |        CAST(FLOOR((CAST(p.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE))
         |             * (1.0 + COALESCE(dw.delta, 0.0)) * 1e9) / 1e9
         |             AS DECIMAL(28,9)) AS term
         |      FROM bl$l p JOIN be ON p.v = be.src
         |      JOIN bl${l + 1} w ON w.s = p.s AND w.v = be.dst
         |      LEFT JOIN bd${l + 1} dw ON dw.s = p.s AND dw.v = be.dst)
         |    GROUP BY 1, 2) t USING (s, v))""".stripMargin
    }
    val dUnion = (1 until maxDepth)
      .map(l => s"SELECT v, delta FROM bd$l").mkString(" UNION ALL ")
    bfsForwardCtes(maxDepth) + ",\n" +
      s"""bd$maxDepth AS MATERIALIZED (
         |  SELECT s, v, CAST(0.0 AS DOUBLE) AS delta FROM bl$maxDepth)""".stripMargin +
      ",\n" + back.mkString(",\n") +
      s"""
         |SELECT n.node, COALESCE(b.bc, 0.0) AS betweenness,
         |  CASE WHEN c.n >= 3
         |       THEN FLOOR(COALESCE(b.bc, 0.0)
         |                  / (CAST(c.n - 1 AS DOUBLE) * CAST(c.n - 2 AS DOUBLE))
         |                  * 1e9) / 1e9 END AS betweenness_norm
         |FROM bn n
         |CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bn) c
         |LEFT JOIN (
         |  SELECT v AS node,
         |         CAST(SUM(CAST(delta AS DECIMAL(28,9))) AS DOUBLE) AS bc
         |  FROM ($dUnion) GROUP BY 1) b ON b.node = n.node""".stripMargin
  }

  /** The k-core oracle, generated with the SAME k and round count as
    * the registered query — each peel round is one degree CTE + one
    * filter CTE over the previous alive set.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH capped AS MATERIALIZED ($recsysInteractionsSql),
         |e0 AS MATERIALIZED (
         |  SELECT a.item_id AS u, b.item_id AS v
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item_id < b.item_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 4),
         |e AS MATERIALIZED (
         |  SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
         |a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT e.u, COUNT(*) AS deg
         |  FROM e JOIN a${r - 1} x ON e.u = x.node
         |         JOIN a${r - 1} y ON e.v = y.node
         |  GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT u AS node FROM d$r WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""cd AS (
         |  SELECT e.u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
         |  FROM e JOIN a$rounds x ON e.u = x.node
         |         JOIN a$rounds y ON e.v = y.node
         |  GROUP BY 1)
         |SELECT n.node, (c.node IS NOT NULL) AS in_core, c.core_degree
         |FROM a0 n LEFT JOIN cd c ON n.node = c.node""".stripMargin
    s"$head,\n$iters,\n$tail"
  }

  /** Label-propagation oracle: each synchronous round is one chained
    * CTE stage — neighbor-label weight sums (the same DECIMAL(28,6)
    * partials), max-weight panel, min-label winner, coalesce for
    * isolated nodes — generated with the SAME round count as the
    * registered query.
    */
  private def labelPropOracleSql(rounds: Int): String = {
    val head =
      """WITH e0 AS MATERIALIZED (
        |  SELECT sn.n_name AS u, cn.n_name AS v, CAST(COUNT(*) AS DOUBLE) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT u, v, w FROM e0 UNION ALL SELECT v AS u, u AS v, w FROM e0),
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT e.u, l.label, SUM(CAST(e.w AS DECIMAL(28,6))) AS sw
         |  FROM e JOIN l${r - 1} l ON e.v = l.node GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT u, MAX(sw) AS msw FROM s$r GROUP BY 1),
         |w$r AS MATERIALIZED (
         |  SELECT s.u AS node, MIN(s.label) AS label
         |  FROM s$r s JOIN m$r m ON s.u = m.u AND s.sw = m.msw GROUP BY 1),
         |l$r AS MATERIALIZED (
         |  SELECT l.node, COALESCE(n.label, l.label) AS label
         |  FROM l${r - 1} l LEFT JOIN w$r n ON l.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iters\nSELECT node, label AS community FROM l$rounds"
  }

  /** Modularity oracle: the label-propagation replay (same round
    * count) extended with the undirected-weight aggregate and the
    * per-community Q pieces in Graph.modularity's fixed IEEE order.
    */
  private def modularityOracleSql(rounds: Int): String = {
    val body = labelPropOracleSql(rounds)
    val cut = body.lastIndexOf("SELECT node, label AS community")
    body.substring(0, cut).stripSuffix("\n") + ",\n" +
      s"""lblf AS MATERIALIZED (SELECT node, label AS community FROM l$rounds),
         |und AS MATERIALIZED (
         |  SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b,
         |    SUM(CAST(w AS DECIMAL(28,6))) AS w
         |  FROM e0 GROUP BY 1, 2),
         |wt AS (SELECT SUM(w) AS tot_w FROM und),
         |str AS (
         |  SELECT l.community, SUM(s.w) AS strength
         |  FROM (SELECT a AS node, w FROM und UNION ALL SELECT b AS node, w FROM und) s
         |  JOIN lblf l ON l.node = s.node GROUP BY 1),
         |intra AS (
         |  SELECT la.community, SUM(u.w) AS w_intra
         |  FROM und u JOIN lblf la ON u.a = la.node JOIN lblf lb ON u.b = lb.node
         |  WHERE la.community = lb.community GROUP BY 1),
         |sz AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM lblf GROUP BY 1)
         |SELECT sz.community, n_nodes,
         |  CAST(COALESCE(w_intra, 0) AS DOUBLE) AS w_intra,
         |  CAST(strength AS DOUBLE) AS strength,
         |  CAST(COALESCE(w_intra, 0) AS DOUBLE) / CAST(tot_w AS DOUBLE)
         |    - (CAST(strength AS DOUBLE) / (2.0 * CAST(tot_w AS DOUBLE)))
         |      * (CAST(strength AS DOUBLE) / (2.0 * CAST(tot_w AS DOUBLE))) AS q_contribution
         |FROM sz JOIN str USING (community) LEFT JOIN intra USING (community) CROSS JOIN wt""".stripMargin
  }

  /** HITS replay: the pagerank edge CTE with weights pre-normalized
    * to w/tot, then per round the two gridded-decimal half-steps
    * (authority from hubs, hub from the NEW authorities), each with
    * its L2-norm panel — op-for-op Graph.hits.
    */
  private def hitsOracleSql(iterations: Int): String = {
    val head =
      """WITH e0 AS MATERIALIZED (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, CAST(COUNT(*) AS DOUBLE) AS w0
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name
        |  GROUP BY 1, 2),
        |tw AS MATERIALIZED (
        |  SELECT CAST(SUM(CAST(w0 AS DECIMAL(28,6))) AS DOUBLE) AS tot FROM e0),
        |e AS MATERIALIZED (
        |  SELECT src, dst, w0 / tot AS w FROM e0 CROSS JOIN tw),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) AS hub FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node,
         |    CAST(SUM(CAST(FLOOR(h.hub * e.w * 1e12) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS araw
         |  FROM h${i - 1} h JOIN e ON h.node = e.src GROUP BY 1),
         |an$i AS MATERIALIZED (
         |  SELECT SQRT(COALESCE(CAST(SUM(CAST(FLOOR(araw * araw * 1e12) / 1e12 AS DECIMAL(28,12))) AS DOUBLE), 0.0)) AS nrm
         |  FROM ar$i),
         |a$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CASE WHEN an.nrm > 0 THEN COALESCE(ar.araw, 0.0) / an.nrm ELSE 0.0 END AS authority
         |  FROM nodes nd CROSS JOIN an$i an LEFT JOIN ar$i ar ON ar.node = nd.node),
         |hr$i AS MATERIALIZED (
         |  SELECT e.src AS node,
         |    CAST(SUM(CAST(FLOOR(a.authority * e.w * 1e12) / 1e12 AS DECIMAL(28,12))) AS DOUBLE) AS hraw
         |  FROM a$i a JOIN e ON a.node = e.dst GROUP BY 1),
         |hn$i AS MATERIALIZED (
         |  SELECT SQRT(COALESCE(CAST(SUM(CAST(FLOOR(hraw * hraw * 1e12) / 1e12 AS DECIMAL(28,12))) AS DOUBLE), 0.0)) AS nrm
         |  FROM hr$i),
         |h$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    CASE WHEN hn.nrm > 0 THEN COALESCE(hr.hraw, 0.0) / hn.nrm ELSE 0.0 END AS hub
         |  FROM nodes nd CROSS JOIN hn$i hn LEFT JOIN hr$i hr ON hr.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iters\nSELECT h.node, h.hub, a.authority FROM h$iterations h JOIN a$iterations a USING (node)"
  }

  /** The PageRank oracle, generated with the SAME iteration count and
    * damping literal as the registered query — each power-iteration
    * round becomes one chained CTE stage replaying the decimal
    * contribution sums and the double recurrence op-for-op.
    */
  private def pageRankOracleSql(iterations: Int, damping: Double): String = {
    val d = s"CAST('${damping.toString}' AS DOUBLE)"
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT sn.n_name AS src, cn.n_name AS dst, CAST(COUNT(*) AS DOUBLE) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  WHERE sn.n_name <> cn.n_name
        |  GROUP BY 1, 2),
        |ow AS MATERIALIZED (
        |  SELECT src, CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS out_w
        |  FROM e GROUP BY 1),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM nodes),
        |r0 AS MATERIALIZED (SELECT node, CAST(1 AS DOUBLE) / cnt AS rank FROM nodes CROSS JOIN nn)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""dg$i AS MATERIALIZED (
         |  SELECT COALESCE(SUM(CAST(rank AS DECIMAL(28,12))), CAST(0 AS DECIMAL(28,12))) AS dang
         |  FROM r${i - 1} WHERE node NOT IN (SELECT src FROM ow)),
         |c$i AS MATERIALIZED (
         |  SELECT e.dst AS node, SUM(CAST(r.rank * e.w / ow.out_w AS DECIMAL(28,12))) AS s
         |  FROM e JOIN ow ON e.src = ow.src JOIN r${i - 1} r ON r.node = e.src
         |  GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    (CAST(1 AS DOUBLE) - $d) / cnt
         |      + $d * (CAST(COALESCE(c.s, CAST(0 AS DECIMAL(28,12))) AS DOUBLE)
         |        + CAST(dg.dang AS DOUBLE) / cnt) AS rank
         |  FROM nodes nd CROSS JOIN nn CROSS JOIN dg$i dg
         |    LEFT JOIN c$i c ON c.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$iters\nSELECT node, rank FROM r$iterations"
  }
}
