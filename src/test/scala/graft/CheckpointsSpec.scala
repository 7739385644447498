package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Checkpoints
import graft.queries.Tables

/** Pin lifetime ([[graft.operators.Checkpoints]]): a scope releases the
  * pins made inside it — and only those — however the query built them,
  * and a lazily consumed result stays valid until its scope closes, no
  * matter how many other invocations of the same query interleave. */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope releases its own pins; nested scopes and release compose") {
    val before = pinned
    val (outer, inner) = Checkpoints.scope {
      val outer = Checkpoints.pin(Seq(1L, 2L).toDF("k"))
      val inner = Checkpoints.scope {
        val inner = Checkpoints.pin(Seq(3L).toDF("k"))
        assert((pinned -- before).size == 2)
        inner
      }
      // the inner scope released its pin only
      assert((pinned -- before).size == 1)
      assert(outer.count() == 2L)
      (outer, inner)
    }
    assert((pinned -- before).isEmpty)
    // release is the early exit: it acts on the pin itself
    val loose = Checkpoints.pin(Seq(4L).toDF("k"))
    assert((pinned -- before).size == 1)
    Checkpoints.release(loose)
    assert((pinned -- before).isEmpty)
    assert(outer != null && inner != null)
  }

  test("two interleaved topSupplier invocations both serve") {
    val q = SparkEntry.queries("d10_top_supplier")
    val (a, b) = Checkpoints.scope {
      // build A, build B, then consume A
      val a = q(spark, sf)
      val b = q(spark, sf)
      (a.collect().map(_.toSeq).toSeq, b.collect().map(_.toSeq).toSeq)
    }
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    Tables.supplier(spark, sf).createOrReplaceTempView("supplier")
    val want =
      try spark.sql(SparkEntry.oracleSql("d10_top_supplier"))
        .collect().map(_.toSeq).toSeq
      finally Seq("lineitem", "supplier").foreach(spark.catalog.dropTempView)
    assert(want.nonEmpty)
    assert(a == want)
    assert(b == want)
  }

  test("every battery query releases its pins when its scope closes") {
    // the StateOnce rows build session-lived state (and pins) on first
    // use; build those once before measuring
    Seq("i2_incremental_index", "i2_incremental_band_index",
      "i6_curation_v7_incremental").foreach(n => SparkEntry.queries(n)(spark, sf))
    // results stay referenced to the end, so no pin is reclaimed by GC
    val held = ArrayBuffer.empty[DataFrame]
    val grown = Harness.queries(None).flatMap { case (name, fn) =>
      val before = pinned
      held += Checkpoints.scope {
        val df = fn(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val left = pinned -- before
      if (left.isEmpty) None else Some(name -> left.size)
    }
    assert(grown.isEmpty, s"queries left pins behind their scope: $grown")
    assert(held.size == SparkEntry.queries.size)
  }
}
