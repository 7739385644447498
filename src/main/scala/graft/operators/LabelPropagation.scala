package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (after Raghavan,
  * Albert & Kumara, Phys. Rev. E 2007 — public literature, no
  * reference-repo counterpart): every node starts in its own community,
  * and each fixed round reassigns it to the most frequent label among its
  * neighbors, ties to the SMALLEST label. The classic async formulation
  * is order-dependent; this synchronous fixed-round variant is a pure
  * function of the previous labeling — deterministic across engines and
  * partitionings, so a DuckDB oracle unrolls the rounds as CTEs and
  * reproduces every label exactly. (Dense template/boilerplate families
  * in a doc co-occurrence graph converge onto one label within 1–2
  * rounds; the round count, not convergence detection, bounds cost.)
  *
  * Scale design: one round = one equi-join of the directed edge table
  * with the |V|-sized label table (broadcast when labels fit, AQE's
  * call), a map-side-combined (node, label) count, and a per-node argmax
  * window — all keyed on node ids, no neighbor list ever materialized.
  * Skewed hubs cost one window partition, not a quadratic reducer.
  */
object LabelPropagation {

  /** Final (node, community) labeling after `rounds` synchronous votes
    * over the undirected graph `edges` (columns `a`, `b`; deduped). */
  def communities(edges: DataFrame, rounds: Int): DataFrame = {
    // pin the incoming edges BEFORE the symmetric union: its two branches
    // are separate physical subtrees, so an expensive upstream generator
    // would run twice (round-14 plan audit — same fix as
    // ConnectedComponents.minLabel). e2 stays checkpointed as well: the
    // vote rounds re-read it, and keeping it a materialized scan preserves
    // the per-round plan shape the rounds were tuned on.
    val e = edges.select(col("a"), col("b")).transform(Checkpoints.pin)
    val e2 = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      .transform(Checkpoints.pin)
    var labels = e2.select(col("v").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (r <- 1 to rounds) {
      labels =
        if (r == 1) {
          // algebraic special case: over the identity labeling every
          // neighbor label is distinct, so most-frequent-with-min-tie
          // degenerates to min neighbor id — one map-side-combined
          // aggregate instead of the join + count + argmax pipeline
          // (the labels are maximally distinct in round 1, which made
          // the generic round the expensive one)
          e2.groupBy(col("v").as("node")).agg(min(col("u")).as("lbl"))
        } else {
          val votes = e2
            .join(labels.withColumnRenamed("node", "u"), Seq("u"))
            .groupBy(col("v").as("node"), col("lbl"))
            .agg(count(lit(1)).as("c"))
          // argmax as min(struct(-count, label)): lexicographic struct
          // ordering = (max count, min label), partial-combined through
          // the shuffle — a row_number window would carry every vote row
          votes.groupBy(col("node"))
            .agg(min(struct((-col("c")).as("negc"), col("lbl").as("lbl")))
              .as("top"))
            .select(col("node"), col("top.lbl").as("lbl"))
        }
    }
    labels.select(col("node"), col("lbl").as("community"))
  }
}
