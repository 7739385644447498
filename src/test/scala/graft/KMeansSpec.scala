package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.KMeans

/** Integer-Lloyd k-means contract: bit-identical to a single-threaded
  * evaluation of the same quantize→assign→update→assign recurrence. */
class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Scale = 1000000L

  private def quantize(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * Scale).toLong + Scale).toArray

  private def sqDist(a: Array[Long], b: Array[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def reference(rows: Seq[(Long, Seq[Float])], k: Int, updates: Int)
      : Map[Long, (Int, Long)] = {
    val q = rows.map { case (id, v) => id -> quantize(v) }.toMap
    var cents = rows.map(_._1).sorted.take(k).map(q).toArray
    def assign(v: Array[Long]): (Int, Long) =
      cents.zipWithIndex.map { case (c, i) => (sqDist(v, c), i) }
        .minBy { case (d, i) => (d, i) } match { case (d, i) => (i, d) }
    for (_ <- 1 to updates) {
      val groups = q.toSeq.groupBy { case (_, v) => assign(v)._1 }
      cents = cents.zipWithIndex.map { case (old, ci) =>
        groups.get(ci) match {
          case Some(members) =>
            val dim = old.length
            Array.tabulate(dim)(i =>
              members.map(_._2(i)).sum / members.size) // non-neg: trunc==floor
          case None => old
        }
      }
    }
    q.map { case (id, v) => id -> assign(v) }
  }

  private def run(rows: Seq[(Long, Seq[Float])], k: Int, updates: Int)
      : Map[Long, (Int, Long)] =
    KMeans.fit(rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k, updates).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap

  private def blob(cx: Float, cy: Float, n: Int, seed: Int): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq(cx + rnd.nextFloat() * 0.1f, cy + rnd.nextFloat() * 0.1f))
  }

  test("three blobs, two updates: matches the single-threaded recurrence") {
    val vecs = blob(-0.5f, -0.5f, 7, 1) ++ blob(0.5f, 0.5f, 7, 2) ++
      blob(-0.5f, 0.5f, 7, 3)
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    assert(run(rows, k = 3, updates = 2) == reference(rows, 3, 2))
  }

  test("cluster indices are the seed ranks; blobs separate after one update") {
    val vecs = blob(-0.6f, 0f, 6, 4) ++ blob(0.6f, 0f, 6, 5)
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val got = run(rows, k = 2, updates = 1)
    val byCluster = got.groupBy(_._2._1).view.mapValues(_.keys.toSet).toMap
    assert(byCluster(0) == (0L until 6L).toSet)
    assert(byCluster(1) == (6L until 12L).toSet)
  }

  test("an empty cluster keeps its previous centroid") {
    // seeds are ids 0 and 1; all points sit at id-0's corner, so cluster 1
    // empties after the update yet its (unchanged) seed centroid still
    // owns id 1 on the final assignment
    val rows = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.9f, 0.9f)),
      (2L, Seq(0.01f, 0.0f)), (3L, Seq(0.0f, 0.01f)))
    val got = run(rows, k = 2, updates = 1)
    assert(got == reference(rows, 2, 1))
    assert(got(1L)._1 == 1)
  }

  test("distance ties break to the lower cluster index") {
    // ±0.25 are exact in binary, so the quantized grid is symmetric and
    // the midpoint is a true tie
    val rows = Seq(
      (0L, Seq(-0.25f, 0.0f)), (1L, Seq(0.25f, 0.0f)), (2L, Seq(0.0f, 0.0f)))
    // no update: centroids are exactly ids 0 and 1; id 2 is equidistant
    val got = run(rows, k = 2, updates = 0)
    assert(got(2L)._1 == 0)
    assert(got == reference(rows, 2, 0))
  }

  /** `body` with the driver-local Lloyd's collect budget at 0: every
    * training call takes the distributed rounds. */
  private def distributed[A](body: => A): A = {
    val saved = KMeans.LocalLloydMaxRows
    KMeans.LocalLloydMaxRows = 0
    try body finally KMeans.LocalLloydMaxRows = saved
  }

  test("driver-local and distributed training agree: fit, centroids, blockCodebooks") {
    val blobs = (blob(-0.5f, -0.5f, 7, 6) ++ blob(0.5f, 0.5f, 7, 7) ++
      blob(-0.5f, 0.5f, 7, 8)).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    // id 1 empties after the update; id 2 ties between ids 0 and 1
    val emptyCluster = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(0.9f, 0.9f)),
      (2L, Seq(0.01f, 0.0f)), (3L, Seq(0.0f, 0.01f)))
    val ties = Seq((0L, Seq(-0.25f, 0.0f)), (1L, Seq(0.25f, 0.0f)), (2L, Seq(0.0f, 0.0f)))
    val cases = Seq((blobs, 3, 2), (emptyCluster, 2, 1), (ties, 2, 0), (ties, 2, 1))
    cases.foreach { case (rows, k, updates) =>
      val df = rows.toDF("vec_id", "embedding")
      def all() = (run(rows, k, updates),
        KMeans.centroids(df, "vec_id", "embedding", k, updates).map(_.toSeq).toSeq,
        KMeans.blockCodebooks(df, "vec_id", "embedding", k, updates, nBlocks = 2) match {
          case (books, bs, dim) => (books.map(_.map(_.toSeq).toSeq).toSeq, bs, dim)
        })
      val local = all()
      assert(local._1 == reference(rows, k, updates))
      assert(distributed(all()) == local, s"k=$k updates=$updates")
    }
  }
}
