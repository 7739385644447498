package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank in exact integer fixed-point arithmetic —
  * link-graph authority as a corpus-curation quality prior (crawl-derived
  * training corpora weight documents by domain/link authority; the same
  * iterate-over-edges shape serves any "propagate weight along edges"
  * pass).
  *
  * Ranks live in integer UNITs (1e-12) and every division is integer
  * `div`, so each iteration is a pure function of the previous one with NO
  * floating-point accumulation: the result is bit-identical regardless of
  * partitioning, parallelism, or engine — an oracle in another engine
  * (DuckDB) reproduces it exactly. The truncation "leaks" mass (standard
  * for fixed-point PR) — acceptable because ranking, not probability, is
  * the contract.
  *
  * Scale design: the edge set is the big table and it is touched once per
  * iteration by a single equi-join on the source node; per-node rank and
  * degree tables are |V|-sized. Degrees are joined into the edge table
  * ONCE up front (static across iterations) and the joined table is
  * localCheckpointed, so each round is join(ranks) → shuffle-agg on dst —
  * two exchanges per round, all on the same node-id key. At 1000 executors
  * the iteration count (not data volume) is the only serial factor, and it
  * is fixed.
  */
object PageRank {

  val Unit_ : Long = 1000000000000L

  /** Runs `iters` rounds of damping-0.85 PageRank over directed `edges`
    * (columns `u` → `v`). Nodes = edge endpoints. Returns (node, rank_u)
    * with rank in UNITs of 1e-12.
    */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val nodes = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node"))).distinct()
    // out-degree folded into the edge table once — static across rounds
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("outdeg"))
    ranksWithDegrees(e.join(deg, Seq("u")), nodes, iters)
  }

  /** Same recurrence over a PRE-DEGREED edge table (`u`, `v`, `outdeg`)
    * and an explicit node table — the entry point for callers that can
    * derive degrees cheaper than the generic distinct-and-group over the
    * symmetric 2|E| edge table (e.g. a bipartite projection where each
    * side's degree is a narrow groupBy of the base pair table plus a
    * broadcast join — see queries.GraphOps.pagerank). Arithmetic is
    * identical, so the oracle is unchanged. */
  def ranksWithDegrees(edgesWithDeg: DataFrame, nodeTable: DataFrame,
      iters: Int): DataFrame = {
    val nodes = nodeTable.select(col("node")).transform(Checkpoints.pin)
    val n = nodes.count()
    val r0 = Unit_ / n // integer division, same as the oracle's `//`
    val base = (15L * r0) / 100L
    // NOT pre-partitioned on u and NOT hash-joined by hint: both were
    // tried against the 64×-shard super-linear segment and measured
    // neutral-to-worse (BASELINE.md round-11 PageRank adjudication) —
    // the segment is one-box saturation, not join-algorithm choice
    val edgesDeg = edgesWithDeg.select(col("u"), col("v"), col("outdeg"))
      .transform(Checkpoints.pin)
    // The |V|-sized rank table never materializes between rounds: the
    // rank formula `base + (85·s) div 100` is inlined into the NEXT
    // round's edge join (a node absent from the contribution sums has
    // rank `base` — exactly what the coalesce yields), so each round is
    // ONE broadcast left-join into the big edge table plus one
    // map-side-combined aggregate. The nodes⋈contrib join — formerly a
    // per-round |V|⋈|V| sort-merge join, 3 sort+exchange stages at 3
    // rounds — happens ONCE at the end. Bit-identical arithmetic.
    def rankExpr = (lit(base) +
      expr("(85 * coalesce(s, cast(0 as bigint))) div 100"))
    var sums: Option[DataFrame] = None
    var lastCkpt: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val withRank = sums match {
        case None => // round 1: every rank is the uniform r0
          edgesDeg.withColumn("__r", lit(r0))
        case Some(sv) =>
          edgesDeg
            .join(sv.select(col("v").as("__sn"), col("s")),
              edgesDeg("u") === col("__sn"), "left")
            .withColumn("__r", rankExpr)
      }
      val next = withRank
        .select(col("v"), expr("__r div outdeg").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("s"))
      // checkpoint only every 8th round to bound lineage depth on long
      // runs — per-round pinning measured ~1.5× slower at 3 rounds;
      // release the replaced sums checkpoint (tracked separately —
      // `sums` itself is usually a derived plan whose leaves include the
      // SHARED edgesDeg checkpoint, which must stay resident) so a long
      // run holds at most one |V|-sized snapshot in block storage
      if (i % 8 == 0 && i < iters) {
        val ck = Checkpoints.pin(next)
        lastCkpt.foreach(Checkpoints.release)
        lastCkpt = Some(ck)
        sums = Some(ck)
      } else sums = Some(next)
    }
    sums match {
      case Some(sv) => nodes
        .join(sv.select(col("v").as("__sn"), col("s")),
          nodes("node") === col("__sn"), "left")
        .select(col("node"), rankExpr.as("rank_u"))
      case None => // iters == 0: the uniform initial ranks
        nodes.select(col("node"), lit(r0).as("rank_u"))
    }
  }
}
