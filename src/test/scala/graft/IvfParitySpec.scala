package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{KMeans, Similarity}

/** The integer-Lloyd IVF tiers' kernel route
  * ([[graft.functions.CellTopKExpr]] over a driver-built cell index)
  * returns exactly the rows of their distributed `cellPairs` join route,
  * which runs when the collect budget is 0. */
class IvfParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Set[(Any, Any, Double, Int)] =
    df.collect().map(r => (r.get(0), r.get(1), r.getDouble(2), r.getInt(3))).toSet

  private def distributed[A](body: => A): A = {
    val saved = KMeans.LocalLloydMaxRows
    KMeans.LocalLloydMaxRows = 0
    try body finally KMeans.LocalLloydMaxRows = saved
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Both paths of `ivfPqTopKExact(df, …)`: (table scan, join path). */
  private def paths(df: DataFrame, k: Int, nList: Int, nProbe: Int,
      nBlocks: Int, nCodes: Int): (DataFrame, DataFrame) = {
    def run() = Similarity.ivfPqTopKExact(df, "vec_id", "embedding", k = k,
      nList = nList, nProbe = nProbe, nBlocks = nBlocks, nCodes = nCodes)
    (run(), distributed(run()))
  }

  test("table scan equals the join path on degenerate corpora") {
    val df = Seq[(Option[Long], Array[Float])](
      // zero norm: with nList = 4 a seed whose cell keeps no scoring row
      (Some(0L), Array(0.0f, 0.0f, 0.0f, 0.0f)),
      (Some(1L), Array(0.9f, 0.8f, 0.9f, 0.7f)),
      (Some(2L), Array(-0.9f, -0.8f, -0.7f, -0.9f)),
      (Some(3L), Array(0.8f, 0.9f, 0.7f, 0.9f)),
      (Some(4L), Array(-0.8f, -0.9f, -0.9f, -0.7f)),
      (Some(5L), Array(0.7f, 0.9f, 0.8f, 0.8f)),
      (None, Array(0.9f, 0.9f, 0.8f, 0.8f)), // null id: trains, never pairs
      (Some(6L), null), // null vector: neither query nor neighbor
      (Some(7L), Array(-0.7f, -0.7f, -0.8f, -0.8f)))
      .toDF("vec_id", "embedding")
    // (k, nList, nProbe): k beyond every candidate count; probe lists that
    // take in the empty cell; a single cell
    for ((k, nList, nProbe) <- Seq((10, 3, 2), (2, 3, 3), (3, 1, 1), (20, 4, 4), (3, 4, 2))) {
      def exact() = Similarity.ivfTopKExact(df, "vec_id", "embedding", k = k,
        nList = nList, nProbe = nProbe)
      val tiers: Seq[(String, (DataFrame, DataFrame), String)] = Seq(
        ("ivfTopKExact", (exact(), distributed(exact())), "Join"),
        ("ivfPqTopKExact", paths(df, k, nList, nProbe, nBlocks = 2, nCodes = 4), "pq_adc"))
      for ((tier, (scan, join), joinMark) <- tiers) {
        val what = s"$tier k=$k nList=$nList nProbe=$nProbe"
        assert(plan(scan).contains("cell_topk") && !plan(scan).contains("Exchange"), what)
        assert(plan(join).contains(joinMark), what)
        val got = rows(scan)
        assert(got.nonEmpty, what)
        assert(got == rows(join), what)
        // no self-pairs, no zero-norm or null-id rows on either side
        assert(got.forall(r => r._1 != r._2), what)
        assert(got.forall(r => r._1 != null && r._2 != null && r._1 != 0L && r._2 != 0L), what)
      }
    }
  }

  test("one cell probed: the exact IVF-PQ tier equals the exact PQ tier") {
    val e = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pq = rows(Similarity.pqTopKExact(e, "vec_id", "embedding", k = 5))
    assert(pq.nonEmpty)
    assert(rows(Similarity.ivfPqTopKExact(e, "vec_id", "embedding", k = 5,
      nList = 1, nProbe = 1)) == pq)
  }

  test("a repeated id takes the join path") {
    val df = Seq((1L, Array(0.5f, 0.5f)), (1L, Array(0.4f, 0.6f)),
      (2L, Array(0.6f, 0.4f)), (3L, Array(-0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val (scan, join) = paths(df, k = 3, nList = 2, nProbe = 2, nBlocks = 2, nCodes = 2)
    assert(plan(scan).contains("pq_adc"))
    assert(rows(scan) == rows(join))
  }
}
