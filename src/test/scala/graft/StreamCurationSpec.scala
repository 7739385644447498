package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.llm.IncrementalCuration
import graft.llm.IncrementalCuration.StateTables
import graft.sinks.Bucketing
import graft.streaming.StreamCuration

/** H14 streaming incremental curation ([[graft.streaming.StreamCuration]]):
  * a 3-micro-batch stream (adds, explicit retires, an IMPLICIT change —
  * an upsert of a live id) must leave verdicts and state identical to the
  * sequential batch v7 loop, and the exactly-once protocol must hold
  * through the two crash-redelivery windows (state committed / log stale,
  * and mid-update) plus plain committed redelivery.
  */
class StreamCurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def st(tag: String) = StateTables(
    s"scs_${tag}_bands", s"scs_${tag}_feats", s"scs_${tag}_doctoks",
    s"scs_${tag}_srcstats", s"scs_${tag}_tombstones", s"scs_${tag}_meta",
    new java.io.File(sys.props("java.io.tmpdir"), s"scs_${tag}_lr").toString)

  // same construction as IncrementalCurationSpec: ≥50 distinct words per
  // seed, seeds share nothing, `suffix` perturbs the tail only
  private def longText(seed: Int, suffix: String = ""): String =
    ((0 until 60).map(i => s"s${seed}word${(seed * 7 + i * 3) % 23}tok$i")
      .mkString(" ") + " " + suffix).trim

  private val standing = Seq(
    (1L, longText(1), "wiki"), (2L, longText(2), "wiki"),
    (3L, longText(3), "crawl"), (4L, longText(4), "crawl"),
    (5L, longText(5), "crawl"))

  // (id, text, source, op) micro-batches: B0 retires 2 explicitly and the
  // near-dup 11 must flag against standing 3; B1 CHANGES live doc 4 by
  // plain upsert (implicit retire) and adds 20; B2's 30 must match 4's
  // NEW version, 31 must NOT match 4's dead OLD version, 32 must NOT
  // match retired 2.
  private val b0 = Seq((10L, longText(40), "wiki", "upsert"),
    (11L, longText(3, "tail tweak"), "crawl", "upsert"),
    (2L, "", "", "retire"))
  private val b1 = Seq((4L, longText(44), "crawl", "upsert"),
    (20L, longText(50), "wiki", "upsert"))
  private val b2 = Seq((30L, longText(44, "tiny edit"), "crawl", "upsert"),
    (31L, longText(4, "tiny edit"), "crawl", "upsert"),
    (32L, longText(2, "tiny edit"), "wiki", "upsert"))

  private def emptyIds: DataFrame =
    spark.range(0).select(col("id").as("doc_id"))

  /** Live state rows after compaction, for cross-copy equality. */
  private def liveRows(t: StateTables) = {
    IncrementalCuration.compactState(spark, t)
    (spark.table(t.bands).select("band_key", "doc_b")
       .as[(String, Long)].collect().toSet,
     spark.table(t.feats).select(col("doc_b"), xxhash64(col("sh")).as("h"))
       .as[(Long, Long)].collect().toSet,
     spark.table(t.docToks).select("doc_id", "source", "tok")
       .as[(Long, String, Long)].collect().toSet,
     spark.table(t.srcStats).as[(String, Long)].collect().toMap)
  }

  test("stream ≡ sequential batch loop: verdicts and state identical") {
    val ts = st("stream")
    val tr = st("ref")
    val standingDF = standing.toDF("doc_id", "text", "source")
    IncrementalCuration.buildState(standingDF, "doc_id", "text", "source",
      ts, lrIters = 5)
    IncrementalCuration.buildState(standingDF, "doc_id", "text", "source",
      tr, lrIters = 5)

    // ---- stream side
    val mem = MemoryStream[(Long, String, String, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("scs_ckpt").toString
    // first batch queued before start so batch 0 is nonempty; the handler
    // tolerates engine-inserted empty batches regardless (log-and-skip)
    mem.addData(b0: _*)
    val q = StreamCuration.attach(
      mem.toDF().toDF("doc_id", "text", "source", "op"),
      ts, "scs_stream_progress", "scs_stream_verdicts", ckpt).start()
    try {
      q.processAllAvailable()
      Seq(b1, b2).foreach { b =>
        mem.addData(b: _*); q.processAllAvailable()
      }
    } finally q.stop()

    // ---- reference: the batch loop with retires made explicit
    // (B1's change of doc 4 arrives as retired ∩ increment, v7's contract)
    val refVerdicts = Seq(
      (b0, Seq(2L)), (b1, Seq(4L)), (b2, Seq.empty[Long])).map {
      case (b, ret) =>
        val inc = b.filter(_._4 == "upsert")
          .map(r => (r._1, r._2, r._3)).toDF("doc_id", "text", "source")
        val retired =
          if (ret.isEmpty) emptyIds else ret.toDF("doc_id")
        val state = IncrementalCuration.loadState(spark, tr)
        val v = IncrementalCuration.processIncrement(state, inc, retired,
          "doc_id", "text", "source").localCheckpoint()
        IncrementalCuration.updateState(tr, state, inc, v, retired,
          "doc_id", "text", "source")
        v
    }

    // verdict parity, full rows per batch (md5-deterministic scores);
    // match by nonempty-batch ORDER, not raw id — the engine may commit
    // an empty startup batch, which lands no verdict partition
    val got = spark.table("scs_stream_verdicts")
    val cols = refVerdicts.head.columns.toIndexedSeq
    val gotIds = got.select("batch_id").distinct()
      .as[Long].collect().sorted
    assert(gotIds.length == 3, s"expected 3 verdict batches, got " +
      gotIds.mkString("[", ",", "]"))
    refVerdicts.zip(gotIds).zipWithIndex.foreach { case ((v, id), i) =>
      val g = got.filter(col("batch_id") === id)
        .select(cols.map(col): _*).collect().map(_.toString).sorted
      val w = v.select(cols.map(col): _*).collect().map(_.toString).sorted
      assert(g.sameElements(w), s"batch $i verdicts diverged from batch loop")
    }
    // semantic pins riding the parity fixture
    val byId = got.select("doc_id", "is_dup", "best_match").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(byId(11L).getBoolean(1), "near-dup of standing doc must flag")
    assert(byId(30L).getBoolean(1) && byId(30L).getLong(2) == 4L,
      "near-dup of the IMPLICITLY changed doc's NEW version must flag")
    assert(!byId(31L).getBoolean(1),
      "near-dup of the changed doc's dead OLD version must not match")
    assert(!byId(32L).getBoolean(1),
      "near-dup of the explicitly retired doc must not match")

    // state parity (live rows after compaction)
    assert(liveRows(ts) == liveRows(tr),
      "streamed state diverged from the batch loop's")
  }

  // the remaining tests drive applyBatch directly against the state the
  // parity stream left committed at batch 2 (generation arithmetic
  // continues from it — ordered by test declaration within this suite)

  private def handler = StreamCuration.applyBatch(
    st("stream"), "scs_stream_progress", "scs_stream_verdicts") _

  /** Highest committed batch id in the parity stream's progress log
    * (engine-dependent — an empty startup batch shifts it). */
  private def lastDone: Long = spark.table("scs_stream_progress")
    .filter(col("phase") === "done").agg(max("batch_id")).head().getLong(0)

  test("committed redelivery is a no-op") {
    val before = spark.table(st("stream").docToks).count()
    val metaBefore = spark.table(st("stream").meta).head().getLong(0)
    handler(b2.toDF("doc_id", "text", "source", "op"), lastDone)
    assert(spark.table(st("stream").docToks).count() == before)
    assert(spark.table(st("stream").meta).head().getLong(0) == metaBefore)
  }

  test("crash between state commit and done-row heals exactly-once") {
    // simulate: drop the last batch's done row (the crash window leaves
    // the start row latest while next_seq already advanced)
    val id = lastDone
    val keep = spark.table("scs_stream_progress")
      .filter(!(col("batch_id") === id && col("phase") === "done"))
      .localCheckpoint()
    Bucketing.writeSmallTable(keep, "scs_stream_progress")
    val before = spark.table(st("stream").docToks).count()
    handler(b2.toDF("doc_id", "text", "source", "op"), id)
    assert(spark.table(st("stream").docToks).count() == before,
      "heal must not re-apply the already-committed batch")
    assert(spark.table("scs_stream_progress")
      .filter(col("batch_id") === id && col("phase") === "done")
      .count() == 1, "heal must restore the done row")
  }

  test("mid-update crash is detected and refuses to double-apply") {
    val t = st("stream")
    val next = lastDone + 1
    val g = spark.table(t.meta).head().getLong(0) // next_seq
    spark.range(1).select(lit(next).as("batch_id"),
        lit("start").as("phase"), lit(g).as("applied_seq"))
      .write.format("parquet").mode("append")
      .saveAsTable("scs_stream_progress")
    Bucketing.appendBucketed(
      Seq(("deadbeef", 999L, g)).toDF("band_key", "doc_b", "seq"),
      t.bands, "band_key", 32)
    val e = intercept[IllegalArgumentException] {
      handler(Seq((40L, longText(60), "wiki", "upsert"))
        .toDF("doc_id", "text", "source", "op"), next)
    }
    assert(e.getMessage.contains("mid-update"), e.getMessage)
  }

  test("duplicate ids within a batch fail loudly") {
    val t = st("dupids")
    IncrementalCuration.buildState(
      standing.toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", t, lrIters = 5)
    val e = intercept[IllegalArgumentException] {
      StreamCuration.applyBatch(t, "scs_dupids_progress",
        "scs_dupids_verdicts")(
        Seq((50L, longText(70), "wiki", "upsert"),
          (50L, longText(71), "wiki", "upsert"))
          .toDF("doc_id", "text", "source", "op"), 0L)
    }
    assert(e.getMessage.contains("duplicate ids"), e.getMessage)
  }

  test("micro-batches leave no pinned RDDs behind") {
    val t = st("pins")
    IncrementalCuration.buildState(
      standing.toDF("doc_id", "text", "source"),
      "doc_id", "text", "source", t, lrIters = 5)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, id) =>
      StreamCuration.applyBatch(t, "scs_pins_progress", "scs_pins_verdicts")(
        b.toDF("doc_id", "text", "source", "op"), id.toLong)
      val grown = sc.getPersistentRDDs.keySet -- before
      assert(grown.isEmpty, s"batch $id left pins $grown")
    }
    assert(spark.table("scs_pins_progress")
      .filter(col("phase") === "done").agg(max("batch_id")).head().getLong(0) == 2L)
  }
}
