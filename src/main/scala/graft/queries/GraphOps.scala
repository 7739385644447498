package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Checkpoints, LabelPropagation, PageRank, Triangles}
import graft.queries.Battery.Row

/** Graph-analytics queries (EXT row I8): iterative weight propagation over
  * an edge set — the link-authority prior a crawl-curation pipeline feeds
  * into document quality scoring. Fixture graph: the part↔supplier
  * bipartite graph observed in lineitem (distinct (l_partkey, l_suppkey)
  * pairs, both directions), supplier nodes offset by 1e9 to share one
  * bigint id space.
  *
  * The oracle unrolls the three iterations as chained CTEs with the SAME
  * integer fixed-point arithmetic (`//` = `div`), so DuckDB reproduces the
  * ranks bit-for-bit — see [[graft.operators.PageRank]] for why that works.
  */
object GraphOps {

  private val SuppOffset = 1000000000L

  /** I8 — top-50 PageRank nodes of the part↔supplier graph after 3
    * damping-0.85 rounds. Suppliers (few, high-degree) collect rank from
    * every part they serve; the TakeOrdered top-k keeps the result
    * driver-small at any scale. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .repartition(col("p")).distinct()
      .transform(Checkpoints.pin) // one 600k-pair dedup serves degrees, edges, nodes
    // bipartite degrees from the base PAIR table: two narrow groupBys
    // (600k → |parts| / |supps|) broadcast back into the pair scan —
    // cheaper than the generic distinct+group over the symmetric 2|E|
    // edge union the plain ranks() entry point does
    val degP = pairs.groupBy(col("p")).agg(count(lit(1)).as("pdeg"))
    val degS = pairs.groupBy(col("sk")).agg(count(lit(1)).as("sdeg"))
    val withDeg = pairs
      .join(broadcast(degP), Seq("p"))
      .join(broadcast(degS), Seq("sk"))
    val edgesDeg = withDeg
      .select(col("p").as("u"), (col("sk") + lit(SuppOffset)).as("v"),
        col("pdeg").as("outdeg"))
      .unionAll(withDeg.select((col("sk") + lit(SuppOffset)).as("u"),
        col("p").as("v"), col("sdeg").as("outdeg")))
    // part ids and offset supplier ids are disjoint: nodes = the two
    // degree tables' keys, no 2|E| distinct
    val nodes = degP.select(col("p").as("node"))
      .unionAll(degS.select((col("sk") + lit(SuppOffset)).as("node")))
    PageRank.ranksWithDegrees(edgesDeg, nodes, 3)
      .orderBy(col("rank_u").desc, col("node"))
      .limit(50)
  }

  private val pagerankSql = {
    // one damping round per CTE, each reading the previous round's ranks
    val iters = 3
    val rounds = (1 to iters).map { i =>
      s"""it$i AS (
        |  SELECT n.node,
        |    (15 * (1000000000000 // p.n)) // 100
        |      + (85 * COALESCE(SUM(r.r // d.outdeg), 0)) // 100 AS r
        |  FROM nodes n CROSS JOIN params p
        |  LEFT JOIN edges e ON e.v = n.node
        |  LEFT JOIN ${if (i == 1) "r0" else s"it${i - 1}"} r ON r.node = e.u
        |  LEFT JOIN deg d ON d.u = e.u
        |  GROUP BY n.node, p.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
      |edges AS (
      |  SELECT p AS u, sk + 1000000000 AS v FROM pairs
      |  UNION ALL
      |  SELECT sk + 1000000000 AS u, p AS v FROM pairs),
      |nodes AS (SELECT DISTINCT u AS node FROM edges),
      |params AS (SELECT COUNT(*) AS n FROM nodes),
      |deg AS (SELECT u, COUNT(*) AS outdeg FROM edges GROUP BY u),
      |r0 AS (SELECT node, 1000000000000 // n AS r FROM nodes, params),
      |$rounds
      |SELECT node, CAST(r AS BIGINT) AS rank_u FROM it$iters
      |ORDER BY rank_u DESC, node LIMIT 50""".stripMargin
  }

  /** The high-quantity co-purchase graph shared by `i8_triangles` and
    * `i8_communities`: distinct part pairs appearing together among an
    * order's large (quantity ≥ 25) lines, `a < b`. Orderkey-only
    * partitioning serves the (orderkey, partkey) dedup AND the basket
    * self-join from one exchange (the d03_basket_pairs trick). */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val basket = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 25)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(col("l_orderkey")).distinct()
    basket.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(basket.select(col("l_orderkey"), col("l_partkey").as("b")),
        Seq("l_orderkey"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** The matching oracle CTE prefix (`b` baskets, `e` edges). */
  private val copurchaseEdgesCte =
    """b AS (
      |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      |  WHERE l_quantity >= 25),
      |e AS (
      |  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
      |  FROM b x JOIN b y
      |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)""".stripMargin

  /** I8b — top-25 triangle-participation nodes of the high-quantity
    * co-purchase graph (parts appearing together in an order's large
    * lines; ~325k edges over 20k parts at sf0.1). The oracle closes
    * triangles by the id-order three-way join; the engine uses
    * degree-ordered orientation ([[graft.operators.Triangles]]) — same
    * triangle set, skew-proof wedge bound. */
  def triangleCounts(s: SparkSession, d: String): DataFrame = {
    Triangles.perNodeCounts(copurchaseEdges(s, d))
      .orderBy(col("n_triangles").desc, col("node"))
      .limit(25)
  }

  private val triangleCountsSql =
    s"""WITH $copurchaseEdgesCte,
      |t AS (
      |  SELECT e1.u AS w, e1.v AS x, e2.v AS y
      |  FROM e e1
      |  JOIN e e2 ON e2.u = e1.v
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |corners AS (
      |  SELECT w AS node FROM t
      |  UNION ALL SELECT x FROM t
      |  UNION ALL SELECT y FROM t)
      |SELECT node, COUNT(*) AS n_triangles FROM corners
      |GROUP BY 1 ORDER BY n_triangles DESC, node LIMIT 25""".stripMargin

  /** I8c — top-25 communities (by size) after two synchronous
    * label-propagation rounds over the same high-quantity co-purchase
    * graph as `i8_triangles` — the template-family collapse step. The
    * oracle unrolls both rounds as CTEs with the identical
    * most-frequent/min-label vote. */
  def communityCounts(s: SparkSession, d: String): DataFrame = {
    LabelPropagation.communities(copurchaseEdges(s, d), rounds = 2)
      .groupBy(col("community")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(25)
  }

  private val communityCountsSql = {
    // one synchronous vote per CTE: most frequent neighbor label, ties to
    // the smallest
    val votes = 2
    val rounds = (1 to votes).map { i =>
      s"""r$i AS (
        |  SELECT node, lbl FROM (
        |    SELECT e2.v AS node, l.lbl, COUNT(*) AS c,
        |      ROW_NUMBER() OVER (PARTITION BY e2.v
        |        ORDER BY COUNT(*) DESC, l.lbl) AS rn
        |    FROM e2 JOIN ${if (i == 1) "l0" else s"r${i - 1}"} l ON l.node = e2.u
        |    GROUP BY e2.v, l.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseEdgesCte,
      |e2 AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e2),
      |$rounds
      |SELECT lbl AS community, COUNT(*) AS n_members
      |FROM r$votes GROUP BY 1
      |ORDER BY n_members DESC, community LIMIT 25""".stripMargin
  }

  /** I8d — 20-core of the co-purchase graph ([[graft.operators.KCore]]):
    * synchronous peeling run to TRUE convergence (3/8/10 rounds at sf
    * 0.001/0.01/0.1), the graph-cohesion filter that thins weakly-embedded
    * spam/boilerplate families before link-authority scoring. The oracle
    * unrolls 20 peeling rounds — 2× the deepest fixture cascade — and relies
    * on peeling being IDEMPOTENT at the fixpoint: extra rounds are
    * no-ops, so one fixed-depth CTE chain checks the converged engine
    * result at every scale factor. */
  def kcore(s: SparkSession, d: String): DataFrame =
    graft.operators.KCore.core(copurchaseEdges(s, d), k = 20)

  private val kcoreSql = {
    // 2× headroom over the deepest measured fixture cascade (10 rounds at
    // sf0.1) — post-convergence rounds are no-op joins over the converged
    // set, so the only cost of margin is a few tiny CTE evaluations
    val rounds = 20
    // AS MATERIALIZED is load-bearing: each round references the previous
    // one twice, so an inlining planner would expand the chain 2^20-fold
    // ("too many open files" on the base parquet before anything runs)
    val peels = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
        |  SELECT s.u FROM sym s
        |  JOIN a${i - 1} x ON s.u = x.u
        |  JOIN a${i - 1} y ON s.v = y.u
        |  GROUP BY s.u HAVING COUNT(*) >= 20)""".stripMargin
    }.mkString(",\n")
    s"""WITH $copurchaseEdgesCte,
      |sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
      |a0 AS MATERIALIZED (SELECT DISTINCT u FROM sym),
      |$peels
      |SELECT s.u AS node, COUNT(*) AS core_degree
      |FROM sym s
      |JOIN a$rounds x ON s.u = x.u
      |JOIN a$rounds y ON s.v = y.u
      |GROUP BY s.u""".stripMargin
  }

  val rows: Seq[Row] = Seq(
    Row("i8_pagerank", pagerank, pagerankSql),
    Row("i8_triangles", triangleCounts, triangleCountsSql),
    Row("i8_communities", communityCounts, communityCountsSql),
    Row("i8_kcore", kcore, kcoreSql)
  )
}
