package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.KMeans
import graft.operators.Checkpoints

/** The battery rows that train integer-Lloyd quantizers run a
  * driver-local path under the collect budget
  * ([[graft.llm.KMeans.LocalLloydMaxRows]]) and a distributed one over it.
  * Both must return the same rows under any shuffle partitioning (every
  * row's oracle is checked elsewhere; HarnessSpec pins that every row has
  * one). */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private val budgetRows = Seq("i3_ivfpq_topk", "i3_ivf_ann_topk",
    "i3_pq_ann_topk", "i3_kmeans", "i6_proto_prune", "i6_cluster_balance",
    "i2_semdedup")

  test("local and distributed paths agree at 4 and 7 partitions") {
    val default = KMeans.LocalLloydMaxRows
    def canon(name: String, parts: String, budget: Int): Seq[String] = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      KMeans.LocalLloydMaxRows = budget
      try Checkpoints.scope(SparkEntry.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq)
      finally {
        KMeans.LocalLloydMaxRows = default
        spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    }
    budgetRows.foreach { name =>
      val want = canon(name, "4", default)
      assert(want.nonEmpty, s"$name returned no rows at $sf")
      for (parts <- Seq("4", "7"); budget <- Seq(default, 0)
          if (parts, budget) != (("4", default))) {
        assert(canon(name, parts, budget) == want,
          s"$name diverges at $parts partitions, budget $budget")
      }
    }
  }
}
