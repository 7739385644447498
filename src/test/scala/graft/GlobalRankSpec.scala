package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.GlobalRank
import graft.llm.Dedup

/** GlobalRank: dense 1..n ranks equal to the single-partition sort, built
  * without one; sorted-neighborhood dedup: candidates and survivors match
  * a brute-force windowed scan. */
class GlobalRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ranks are dense 1..n in total (key, id) order across partitions") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i => (i, rnd.nextInt(40).toString))
    val ranked = GlobalRank.withGlobalRank(
      rows.toDF("id", "k").repartition(7), "rn", col("k"), col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = rows.sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, k), i) => (id, k, i + 1L) }
    assert(ranked.sortBy(_._3).toSeq == expected)
  }

  test("empty input ranks to empty") {
    val df = Seq.empty[(Long, String)].toDF("id", "k")
    assert(GlobalRank.withGlobalRank(df, "rn", col("k"), col("id")).count() == 0)
  }

  /** `GlobalRank` ranks beside `row_number()` over the same order. */
  private def rankedVsRowNumber(df: org.apache.spark.sql.DataFrame,
      order: org.apache.spark.sql.Column*) = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    val ranked = GlobalRank.withGlobalRank(df, "rn", order: _*)
    val got = ranked.select(col("id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = df.select(col("id"), row_number().over(w).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (ranked, got, want)
  }

  test("ranks equal row_number across 4096 range partitions") {
    val conf = spark.conf
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val prev = keys.map(k => k -> conf.get(k))
    conf.set(keys(0), "4096")
    conf.set(keys(1), "false")
    try {
      val df = spark.range(0, 6000).select(col("id"),
        (col("id") * 7919 % 6007).as("k"))
      val (ranked, got, want) = rankedVsRowNumber(df, col("k"), col("id"))
      assert(ranked.rdd.getNumPartitions >= 4000)
      assert(got == want)
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  test("a2 shape: (to_timestamp(start_time), span_id) ranks equal row_number") {
    val rows = Seq(
      "2021-10-10T10:25:35.000000Z", "2021-10-10T10:25:35.000000Z",
      "2021-10-09T23:59:59.999999Z", null, "2021-10-10T10:25:35.000001Z",
      "2020-01-01 00:00:00", null, "2021-10-10T10:25:35.000000Z")
      .zipWithIndex.map { case (t, i) => (i.toLong, t, s"0x${7 - i}") }
    val df = rows.toDF("id", "start_time", "span_id").repartition(3)
      .select(col("id"), to_timestamp(col("start_time")).as("t"), col("span_id"))
    val (ranked, got, want) = rankedVsRowNumber(df, col("t"), col("span_id"))
    assert(got == want)
    assert(got.values.toSeq.sorted == (1L to rows.size.toLong))
    assert(!ranked.schema("rn").nullable)
  }

  test("offsets are dense per partition id and guard the 2^33 counter field") {
    assert(GlobalRank.offsets(Nil).isEmpty)
    assert(GlobalRank.offsets(Seq(2 -> 3L, 0 -> 5L)).toSeq == Seq(0L, 5L, 5L))
    val max = GlobalRank.MaxPartitionRows
    assert(max == 1L << 33)
    assert(GlobalRank.offsets(Seq(0 -> (max - 1), 1 -> 1L)).toSeq == Seq(0L, max - 1))
    val e = intercept[IllegalStateException](
      GlobalRank.offsets(Seq(0 -> 1L, 1 -> max)))
    assert(e.getMessage.contains("partition 1"))
  }

  test("sorted-neighborhood pairs match a brute-force windowed scan") {
    // clusters of edited copies sharing prefixes + unrelated docs
    def doc(i: Long, t: String) = (i, t)
    val corpus = Seq(
      doc(1, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(2, "alpha beta gamma delta epsilon zeta eta iota"),
      doc(3, "alpha beta gamma delta epsilon zeta kappa theta"),
      doc(10, "one two three four five six seven eight nine"),
      doc(11, "one two three four five six seven eight ten"),
      doc(20, "completely different text with no relation at all"),
      doc(21, "short a b"),
      doc(22, "zz yy xx ww vv uu tt ss"))
    val w = 3
    // brute force: same sort key order, same window, exact jaccard
    val keyed = corpus.map { case (id, t) => (t.trim.take(24), id, t) }.sorted
    def grams(t: String): Set[String] = {
      val ws = t.trim.split(" +")
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val expected = (for {
      i <- keyed.indices; j <- (i + 1) to math.min(i + w, keyed.size - 1)
      a = keyed(i); b = keyed(j)
      ga = grams(a._3); gb = grams(b._3)
      if ga.nonEmpty && gb.nonEmpty
      shared = (ga & gb).size
      jac = shared.toDouble / (ga.size + gb.size - shared)
      if jac >= 0.5
    } yield (math.min(a._2, b._2), math.max(a._2, b._2), shared)).toSet
    val got = Dedup.sortedNeighborPairs(
      corpus.toDF("doc_id", "text"), "doc_id", "text",
      window = w, keyPrefixLen = 24, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(expected.nonEmpty) // the fixture actually exercises the path
  }
}
