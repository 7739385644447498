package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by synchronous peeling (EXT row I8; no
  * reference-repo counterpart) — the graph-cohesion filter of
  * crawl-corpus curation: nodes outside the k-core are weakly embedded
  * (spam rings, isolated boilerplate families thin out first), and the
  * core is where link-authority priors like PageRank are trustworthy.
  *
  * Synchronous peeling: every round deletes ALL nodes whose degree among
  * currently-alive nodes is < k, simultaneously. The fixpoint is the
  * k-core (Seidman 1983); synchronous rounds make the iteration
  * DETERMINISTIC and engine-reproducible — and because peeling is
  * IDEMPOTENT at the fixpoint, an oracle that unrolls MORE rounds than
  * convergence needs computes the identical set, so one fixed-depth
  * DuckDB CTE chain checks the true-convergence engine result at every
  * scale factor.
  *
  * Scale design: the symmetric edge table is repartitioned by `u` ONCE
  * and localCheckpoint-ed; each round's degree count then reuses that
  * partitioning (no per-round edge shuffle — the same trick as the
  * PageRank loop). The alive set starts at |V| and only shrinks; joins
  * against it stay AQE-broadcastable in the common case and degrade to
  * co-partitioned shuffles when |V| is huge. Rounds are O(diameter of
  * the peel cascade), each a fixed small job; the loop localCheckpoints
  * the alive set to truncate lineage, and a `maxRounds` guard turns a
  * runaway cascade into an explicit error instead of an endless job
  * chain.
  */
object KCore {

  /** Nodes of the `k`-core of the undirected graph given as unique
    * `a < b` edge pairs, with each node's within-core degree.
    *
    * The loop is DELTA-based: instead of recounting degrees over the
    * surviving subgraph every round (a full-edge-set aggregation × the
    * cascade depth), it maintains the degree table and, per round,
    * decrements only the neighbors of the just-peeled nodes —
    * `deg'(u) = deg(u) − |dead neighbors|`, exactly the synchronous
    * recount because every peeled edge had a doomed endpoint. The doomed
    * set is usually tiny, so the per-round join against the (static,
    * pre-partitioned) edge table broadcasts it; the carried state is one
    * |V|-row degree table, localCheckpointed per round. */
  /** Below this many (undirected) edges the peel runs driver-side on the
    * collected edge list — synchronous rounds over a 325k-edge graph are
    * microseconds in one array pass but ~0.5 s per round as Spark jobs
    * (the loop is all scheduling overhead at that size). Results are
    * identical by construction (same synchronous recurrence;
    * KCoreSpec pins local/distributed equality). The same bounded-
    * collect-budget pattern as `Closure.LocalWalkMaxEdges`. */
  val LocalPeelMaxEdges: Long = 5000000L

  def core(edges: DataFrame, k: Int, maxRounds: Int = 50,
      localPeelMaxEdges: Long = LocalPeelMaxEdges): DataFrame = {
    require(k >= 1, s"bad k: $k")
    val spark = edges.sparkSession
    // materialize ONCE: the caller's edge plan is typically the expensive
    // subtree (scan → distinct → self-join → distinct), and it feeds the
    // budget count AND the collect (local) / both sym branches
    // (distributed) — without this it would execute 2-3 times
    val e = edges.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).transform(Checkpoints.pin)
    if (e.count() <= localPeelMaxEdges) {
      import java.lang.{Long => JLong}
      val pairs = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val adj = new java.util.HashMap[JLong, java.util.ArrayList[JLong]]()
      def add(u: Long, v: Long): Unit = {
        var l = adj.get(JLong.valueOf(u))
        if (l == null) {
          l = new java.util.ArrayList[JLong]()
          adj.put(JLong.valueOf(u), l)
        }
        l.add(JLong.valueOf(v))
      }
      pairs.foreach { case (a, b) => add(a, b); add(b, a) }
      val deg = new java.util.HashMap[JLong, JLong]()
      adj.forEach((u, l) => deg.put(u, JLong.valueOf(l.size.toLong)))
      var rounds = 0
      var running = true
      while (running) {
        val dead = new java.util.ArrayList[JLong]()
        deg.forEach((u, d) => if (d.longValue() < k) dead.add(u))
        if (dead.isEmpty) running = false
        else if (rounds >= maxRounds) {
          throw new IllegalStateException(
            s"k-core peeling did not converge in $maxRounds rounds — " +
              "raise maxRounds")
        } else {
          // synchronous: remove all doomed, then decrement their alive
          // neighbors — identical to the distributed delta recurrence
          dead.forEach(u => deg.remove(u))
          dead.forEach { u =>
            adj.get(u).forEach { v =>
              val d = deg.get(v)
              if (d != null) deg.put(v, JLong.valueOf(d.longValue() - 1L))
            }
          }
          rounds += 1
        }
      }
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](deg.size)
      deg.forEach((u, d) =>
        rows.add(org.apache.spark.sql.Row(u.longValue(), d.longValue())))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("core_degree",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(rows, schema)
    }
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u"))
      .transform(Checkpoints.pin) // one shuffle serves every round's delta join
    var deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .transform(Checkpoints.pin)
    var rounds = 0
    while (true) {
      val doomed = deg.filter(col("deg") < k).select(col("u"))
      if (doomed.isEmpty) {
        // fixpoint: `deg` counts only alive-alive edges — the core degree
        return deg.select(col("u").as("node"), col("deg").as("core_degree"))
      }
      if (rounds >= maxRounds) {
        throw new IllegalStateException(
          s"k-core peeling did not converge in $maxRounds rounds — " +
            "raise maxRounds")
      }
      // per-alive-node count of dead neighbors; edges between two doomed
      // nodes decrement a node the filter below removes anyway
      val dec = sym
        .join(doomed.select(col("u").as("v")), "v")
        .groupBy(col("u"))
        .agg(count(lit(1)).as("dec"))
      val prev = deg
      deg = deg
        .filter(col("deg") >= k)
        .join(dec, Seq("u"), "left")
        .select(col("u"),
          (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
        .transform(Checkpoints.pin)
      // the new checkpoint materialized eagerly above — drop the prior
      // round's blocks now, or a deep cascade pins O(rounds × |V|)
      Checkpoints.release(prev)
      rounds += 1
    }
    throw new IllegalStateException("unreachable")
  }
}
