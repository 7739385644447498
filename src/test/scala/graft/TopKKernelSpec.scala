package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Similarity
import graft.streaming.VectorServe

/** Rules of the per-row top-k kernel in every tier that runs it, batch and
  * stream: a null corpus id is never a neighbor and a null query id is
  * never a query, as in the join path, whose `id ≠` predicate drops both;
  * a query of another dimension than the index fails loudly. */
class TopKKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** IvfParitySpec's degenerate corpus: a zero vector, a null id, a null
    * vector. */
  private val edge = Seq[(Option[Long], Option[Array[Float]])](
    (Some(0L), Some(Array(0.0f, 0.0f, 0.0f, 0.0f))),
    (Some(1L), Some(Array(0.9f, 0.8f, 0.9f, 0.7f))),
    (Some(2L), Some(Array(-0.9f, -0.8f, -0.7f, -0.9f))),
    (Some(3L), Some(Array(0.8f, 0.9f, 0.7f, 0.9f))),
    (Some(4L), Some(Array(-0.8f, -0.9f, -0.9f, -0.7f))),
    (Some(5L), Some(Array(0.7f, 0.9f, 0.8f, 0.8f))),
    (None, Some(Array(0.9f, 0.9f, 0.8f, 0.8f))),
    (Some(6L), None),
    (Some(7L), Some(Array(-0.7f, -0.7f, -0.8f, -0.8f))))

  private def corpus: DataFrame = edge.toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Set[(Any, Any, Double, Int)] =
    df.collect().map(r => (r.get(0), r.get(1), r.getDouble(2), r.getInt(3))).toSet

  /** `serve` run as a stream over the edge rows as queries. */
  private def streamed(name: String)(serve: DataFrame => DataFrame)
      : Set[(Any, Any, Double, Int)] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Option[Long], Option[Seq[Float]])]
    val q = serve(mem.toDF().toDF("vec_id", "embedding")).writeStream
      .outputMode("append").format("memory").queryName(name).start()
    try {
      mem.addData(edge.map { case (id, v) => (id, v.map(_.toSeq)) }: _*)
      q.processAllAvailable()
      rows(spark.table(name))
    } finally q.stop()
  }

  test("null ids are left out on both sides by every kernel tier and stream") {
    val c = corpus
    val tiers: Seq[(String, () => Set[(Any, Any, Double, Int)])] = Seq(
      "bruteForceTopK" -> (() => rows(
        Similarity.bruteForceTopK(c, c, "vec_id", "embedding", k = 3))),
      "pqTopK" -> (() => rows(Similarity.pqTopK(c, "vec_id", "embedding", k = 3,
        nBlocks = 2, nCodes = 4))),
      "pqTopKExact" -> (() => rows(Similarity.pqTopKExact(c, "vec_id", "embedding",
        k = 3, nBlocks = 2, nCodes = 4))),
      "ivfTopKExact" -> (() => rows(Similarity.ivfTopKExact(c, "vec_id",
        "embedding", k = 3, nList = 3, nProbe = 2))),
      "ivfPqTopKExact" -> (() => rows(Similarity.ivfPqTopKExact(c, "vec_id",
        "embedding", k = 3, nList = 3, nProbe = 2, nBlocks = 2, nCodes = 4))),
      "ivfServe" -> (() => rows(Similarity.ivfServe(c, c, "vec_id", "embedding",
        k = 3, nList = 3, nProbe = 2))),
      "ivfPqServe" -> (() => rows(Similarity.ivfPqServe(c, c, "vec_id", "embedding",
        k = 3, nList = 3, nProbe = 2, nBlocks = 2, nCodes = 4))),
      "serveExact" -> (() => streamed("null_id_exact")(
        VectorServe.serveExact(_, c, "vec_id", "embedding", k = 3))),
      "serveIvf" -> (() => streamed("null_id_ivf")(
        VectorServe.serveIvf(_, c, "vec_id", "embedding", k = 3, nList = 3, nProbe = 2))),
      "servePq" -> (() => streamed("null_id_pq")(
        VectorServe.servePq(_, c, "vec_id", "embedding", k = 3, nBlocks = 2, nCodes = 4))))
    for ((tier, run) <- tiers) {
      val got = run()
      assert(got.nonEmpty, tier)
      assert(got.forall(r => r._1 != null && r._2 != null), s"$tier: $got")
      assert(got.forall(r => r._1 != r._2), s"$tier: self-pair in $got")
    }
    Similarity.releaseBroadcasts()
  }

  test("integral ids rank exactly as the string-id join path") {
    val c = corpus
    val kernel = rows(Similarity.bruteForceTopK(c, c, "vec_id", "embedding", k = 3))
    val s = c.withColumn("vec_id", col("vec_id").cast("string"))
    val join = rows(Similarity.bruteForceTopK(s, s, "vec_id", "embedding", k = 3))
      .map(r => (r._1.toString.toLong, r._2.toString.toLong, r._3, r._4))
    assert(kernel.nonEmpty && kernel == join)
    Similarity.releaseBroadcasts()
  }

  test("a query of another dimension fails loudly") {
    val c = corpus
    val q = Seq((100L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val tiers: Seq[(String, () => DataFrame)] = Seq(
      "bruteForceTopK" -> (() => Similarity.bruteForceTopK(q, c, "vec_id", "embedding")),
      "serveIvf" -> (() => VectorServe.serveIvf(q, c, "vec_id", "embedding",
        nList = 3, nProbe = 2)),
      "servePq" -> (() => VectorServe.servePq(q, c, "vec_id", "embedding",
        nBlocks = 2, nCodes = 4)))
    for ((tier, run) <- tiers) {
      val e = intercept[Exception](run().collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("query vector dim 3 != index dim 4")),
        s"$tier: $e")
    }
    Similarity.releaseBroadcasts()
  }
}
