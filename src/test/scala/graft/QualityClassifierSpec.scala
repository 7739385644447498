package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.functions.LrKernel
import graft.llm.QualityClassifier

/** Integer fixed-point logistic regression
  * ([[graft.llm.QualityClassifier]]): separability, bit-exact
  * partitioning-independence of the fitted weights, kernel/driver parity,
  * and null handling. */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // linearly separable two-vocabulary corpus
  private def synth = {
    val pos = Seq.tabulate(40)(i => (i.toLong, s"good clean prose sample$i text", 1))
    val neg = Seq.tabulate(40)(i => (100L + i, s"spam junk noise garbage$i blob", 0))
    (pos ++ neg).toDF("id", "text", "y")
  }

  test("separable corpus fits to perfect accuracy") {
    val m = QualityClassifier.fit(synth, "text", col("y"), buckets = 256,
      iters = 40)
    val scored = QualityClassifier.score(synth, "text", m)
    val acc = scored.agg(
      sum(when(col("pred") === (col("y") === 1), 1).otherwise(0))).head().getLong(0)
    assert(acc == 80L, "synthetic two-vocabulary corpus must separate")
  }

  test("fitted weights are bit-identical across partitionings") {
    val a = QualityClassifier.fit(synth.repartition(11), "text", col("y"),
      buckets = 256, iters = 25)
    val b = QualityClassifier.fit(synth.repartition(3), "text", col("y"),
      buckets = 256, iters = 25)
    assert(a.intercept == b.intercept)
    assert(java.util.Arrays.equals(a.weights, b.weights))
  }

  test("local and distributed GD paths produce identical models") {
    // integer gradient sums are order-independent, so the driver-local
    // loop and the treeAggregate path must agree bit for bit
    val a = QualityClassifier.fit(synth, "text", col("y"), buckets = 256,
      iters = 20) // n=80 <= LocalFitMaxDocs: local loop
    val b = QualityClassifier.fit(synth.repartition(9), "text", col("y"),
      buckets = 256, iters = 20, localFitMaxDocs = 0) // forced distributed
    assert(a.intercept == b.intercept)
    assert(java.util.Arrays.equals(a.weights, b.weights))
  }

  test("logit expression matches the driver kernel per row") {
    val m = QualityClassifier.fit(synth, "text", col("y"), buckets = 128,
      iters = 10)
    val rows = QualityClassifier.score(synth, "text", m)
      .select(col("text"), col("logit")).collect()
    rows.foreach { r =>
      val expect = LrKernel.logitFp(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        m.weights, m.intercept)
      assert(r.getLong(1) == expect)
    }
    // pred is exactly logit >= 0, and prob crosses 0.5 with it
    val sc = QualityClassifier.score(synth, "text", m)
      .select(col("logit"), col("prob"), col("pred")).collect()
    sc.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(0) >= 0))
      assert((r.getDouble(1) >= 0.5) == r.getBoolean(2))
    }
  }

  test("null text scores the intercept; labels outside 0/1 are dropped") {
    val df = Seq((0L, null.asInstanceOf[String], 1), (1L, "a b", 0),
      (2L, "a b", 2)).toDF("id", "text", "y")
    val m = QualityClassifier.fit(df, "text", col("y"), buckets = 64, iters = 3)
    val logits = QualityClassifier.score(df, "text", m)
      .select(col("id"), col("logit")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(logits(0L) == m.intercept)
    // empty training set fails loudly
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fit(
        Seq((0L, "x", 5)).toDF("id", "text", "y"), "text", col("y"))
    }
    assert(e.getMessage.contains("empty"))
  }

  test("fixture gate clears its floor at sf0.001") {
    // the fixtures' lang/source columns are independent of the text (a
    // shared 31-word vocabulary), so the teachable label is the C4-style
    // length rule — the model must recover it from token weights alone
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val label = (size(split(trim(col("text")), " +")) >= 50).cast("int")
    val m = QualityClassifier.fit(docs, "text", label, buckets = 1024,
      iters = 200, lrNum = 1, lrDen = 8, trainPct = 80)
    val scored = QualityClassifier.score(docs, "text", m)
    val Array(n, correct) = scored.agg(count(lit(1)),
      sum(when(col("pred") === (label === 1), 1L).otherwise(0L)))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val acc = correct.toDouble / n
    assert(acc >= 0.85, s"sf0.001 accuracy $acc under floor")
  }

  test("fit releases its training pin on both GD paths") {
    val sc = spark.sparkContext
    for (localMax <- Seq(QualityClassifier.LocalFitMaxDocs, 0L)) {
      val before = sc.getPersistentRDDs.keySet
      QualityClassifier.fit(synth, "text", col("y"), buckets = 64, iters = 2,
        localFitMaxDocs = localMax)
      val grown = sc.getPersistentRDDs.keySet -- before
      assert(grown.isEmpty, s"localFitMaxDocs=$localMax left pins $grown")
    }
  }
}
