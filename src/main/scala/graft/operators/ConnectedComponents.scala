package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the graph
  * half of end-to-end fuzzy deduplication (near-dup PAIRS are not yet a
  * dedup decision: transitive chains a~b~c must collapse into ONE keep
  * set, which is exactly a connected-components problem).
  *
  * Each iteration joins the current labels across the edge set and keeps
  * the per-node minimum — O(component diameter) iterations, each one
  * shuffle-join + one shuffle-aggregate. Near-dup graphs are sparse with
  * tiny diameters (clusters are near-cliques), so this converges in a
  * handful of rounds; for adversarial long-chain graphs at extreme scale
  * the large-star/small-star contraction is the upgrade path, same API.
  */
object ConnectedComponents {

  /** Edge-count ceiling for the driver-local union-find: below it, the
    * per-round scheduling overhead of the distributed fixpoint (a
    * join + aggregate + checkpoint + convergence-count JOB per round)
    * dwarfs the actual work — the same jobs-vs-bytes call behind
    * `Closure.LocalWalkMaxEdges` and `KCore.LocalPeelMaxEdges`. ~100k
    * edges is a few MB of id pairs; larger graphs take the distributed
    * fixpoint. Mutable ONLY so tests can force the distributed path. */
  private[graft] var LocalUnionFindMaxEdges: Long = 100000L

  /** Driver-local min-id components over a collected edge array:
    * union-find with path compression, then one pass assigning every
    * endpoint the MINIMUM id of its set — exactly the distributed
    * fixpoint's labels, restricted to ids that appear in an edge
    * (isolated nodes label themselves at the caller's join). */
  private def localMinLabels(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val next = parent.getOrElse(c, c); parent(c) = r; c = next
      }
      r
    }
    es.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
      else { parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b); () }
    }
    val minOf = scala.collection.mutable.LongMap.empty[Long]
    val ids = scala.collection.mutable.LongMap.empty[Unit]
    es.foreach { case (a, b) => ids(a) = (); ids(b) = () }
    ids.foreachKey { id =>
      val r = find(id)
      val cur = minOf.getOrElse(r, Long.MaxValue)
      if (id < cur) minOf(r) = id
    }
    ids.keys.map(id => id -> minOf(find(id))).toSeq
  }

  /** Labels every node (single `id` column) with the minimum node id
    * reachable through `pairs` (columns `doc_a`, `doc_b`). Returns
    * (id, component). */
  def minLabel(nodes: DataFrame, pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // localCheckpoint everywhere: an iterative fixpoint otherwise grows
    // the logical plan by one join+aggregate per round, so analysis time
    // (and recovery lineage) compounds — the checkpoint pins each round to
    // a cached RDD scan. The (possibly expensive) pair-generation upstream
    // is checkpointed BEFORE the symmetric union: the union's two branches
    // are separate physical subtrees, so an un-materialized `pairs` would
    // run the whole candidate+verify substrate twice (ReuseExchange does
    // not dedupe across AQE's per-branch replanning — round-14 plan audit:
    // the keep/e2e family paid its LSH-or-all-pairs substrate 2×). The
    // symmetric union itself then reads the checkpointed blocks twice,
    // which costs nothing by comparison.
    val p = pairs.select(col("doc_a"), col("doc_b")).transform(Checkpoints.pin)
    // budget-guarded driver-local path (the Closure/KCore discipline):
    // near-dup pair sets are output-sensitive — usually a few hundred
    // rows per corpus — and the distributed fixpoint costs a join +
    // aggregate + checkpoint + count JOB per round regardless of size.
    // Below the edge budget, collect the pinned pairs once, run min-id
    // union-find on the driver, and attach the (budget-bounded) labels
    // back with a broadcast join; isolated nodes label themselves via
    // coalesce. Long-id graphs only (every battery caller); anything
    // else, or anything over budget, takes the distributed fixpoint.
    val longIds = Seq("doc_a", "doc_b").forall(c =>
      p.schema(c).dataType == org.apache.spark.sql.types.LongType) &&
      nodes.schema("id").dataType == org.apache.spark.sql.types.LongType
    if (longIds && p.count() <= LocalUnionFindMaxEdges) {
      // null endpoints contribute nothing in the distributed fixpoint
      // (they never match the label join) — drop them here too instead of
      // NPE-ing on getLong (r14 ADVICE)
      val es = p.filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val spark = nodes.sparkSession
      val lblRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      localMinLabels(es).foreach { case (id, comp) =>
        lblRows.add(org.apache.spark.sql.Row(id, comp))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lbl",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val lbl = spark.createDataFrame(lblRows, schema)
      Checkpoints.release(p) // collected: nothing below reads it
      val endpointIds = lbl.select(col("id"))
      return nodes.select(col("id"))
        .unionByName(endpointIds)
        .distinct()
        .join(broadcast(lbl), Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("component"))
    }
    val edges = p.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // seed with nodes ∪ edge endpoints: an endpoint missing from `nodes`
    // would otherwise never contribute its own id as a label candidate AND
    // would enter a round with a null prev, silently ending the fixpoint
    // one round early with wrong components
    // `pinned` is the current round's pin; `labels` projects it (release
    // acts only on a frame whose root is the pin)
    var pinned = nodes.select(col("id"))
      .unionByName(edges.select(col("u").as("id")))
      .distinct()
      .select(col("id"), col("id").as("component"))
      .transform(Checkpoints.pin)
    var labels = pinned
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val viaNeighbors = edges.join(labels, col("v") === col("id"))
        .select(col("u").as("id"), col("component"))
      // the node's own previous label rides through the aggregate (self
      // rows tagged), so the convergence probe is a filter over the
      // checkpointed round — one shuffle job per round, not two
      val round = labels.select(col("id"), col("component"), lit(true).as("self"))
        .unionByName(viaNeighbors.withColumn("self", lit(false)))
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"),
          min(when(col("self"), col("component"))).as("prev"))
        .transform(Checkpoints.pin) // eager: materializes the round
      changed = round.filter(col("component") < col("prev")).count()
      // the new round has materialized: the previous one has no consumers
      Checkpoints.release(pinned)
      pinned = round
      labels = round.select(col("id"), col("component"))
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters iterations " +
          "(component diameter exceeds the cap — raise maxIters or use " +
          "starContraction)")
    Checkpoints.release(p) // the result reads only the last round's pin
    labels
  }

  /** Labels every node with its component minimum via alternating
    * large-star / small-star contraction (the public two-phase MapReduce
    * formulation: Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC '14): O(log n) rounds on ANY graph shape — the upgrade
    * path over [[minLabel]] for long-chain graphs, where min-label
    * propagation needs O(diameter) rounds. Same contract as [[minLabel]]:
    * seeds with nodes ∪ edge endpoints, returns (id, component).
    *
    * Large-star connects every neighbor larger than `u` to the minimum of
    * u's closed neighborhood; small-star connects the smaller neighbors
    * (and `u`) to that minimum. Both phases compute the per-neighborhood
    * minimum with a WINDOW over the grouping key — no `collect_set`, so a
    * high-degree hub never materializes its neighbor list in one row — and
    * both preserve the canonical big→small edge orientation, so
    * `distinct()` keeps the edge set bounded by its original size every
    * round. Convergence = the canonical edge set reaches a fixpoint
    * (checked exactly with one count over the union — edges at a fixpoint
    * are precisely the star set {(member, component-min)}).
    */
  def starContraction(nodes: DataFrame, pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")

    // (v, m(u)) for every neighbor v > u, where m(u) = min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      sym.withColumn("m", least(col("u"), min(col("v")).over(w)))
        .filter(col("v") > col("u")) // m ≤ u < v, so no self-loops possible
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // input is big→small oriented, so Γ(u) here is exactly the smaller
    // neighbors: emit (v, m) for v ∈ Γ(u) \ {m}, plus (u, m)
    def smallStar(e: DataFrame): DataFrame = {
      val withMin = e.withColumn("m", min(col("v")).over(w))
      withMin.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(withMin.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var edges = pairs
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()
      .transform(Checkpoints.pin) // same lineage-truncation rationale as minLabel
    var changed = if (edges.isEmpty) 0L else Long.MaxValue
    var i = 0
    while (changed > 0 && i < maxIters) {
      val next = Checkpoints.pin(smallStar(largeStar(edges)))
      // exact symmetric difference of two DISTINCT sets: every (u,v) key
      // appears once or twice in the union; twice ⇔ in both rounds
      changed = next.unionAll(edges).groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("n")).filter(col("n") =!= 2).count()
      // the changed count was this round's last read of the old edges —
      // free its blocks before rebinding
      Checkpoints.release(edges)
      edges = next
      i += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIters rounds — " +
          "with O(log n) convergence this indicates a pathological or " +
          "adversarial edge set; raise maxIters")
    val ids = nodes.select(col("id"))
      .unionByName(pairs.select(col("doc_a").as("id")))
      .unionByName(pairs.select(col("doc_b").as("id")))
      .distinct()
    // at the fixpoint every non-minimum node carries exactly one star edge
    ids.join(edges.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }
}
