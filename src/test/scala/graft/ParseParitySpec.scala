package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{Engine, SpanRecorder, TaskContext}
import graft.model.{SpanModel, SpanRow}
import graft.parser.{SpanParser, WorkflowSummary}
import SpanFixtures._

/** The one-scan driver parse ([[SpanParser.parseSpans]]) against the
  * union-branch parse it replaced ([[ParseOracles.parseSpansUnion]]):
  * equal summaries, or the same error, on every fixture; and a pin on the
  * parse's Spark job count. */
class ParseParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A summary in comparable form: synthetic top ids (random UUIDs) and
    * byte payloads (arrays compare by reference) normalized. */
  private def comparable(s: WorkflowSummary): Any = {
    def id(x: String) = if (x.startsWith("NO-TOP-SPAN--TEMP")) "<synthetic>" else x
    def content(c: Any) = c match {
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    (id(s.spanId), s.timing, s.attributes, s.taskDependencies,
      s.taskRuns.map(t => (t.spanId, id(t.parentSpanId), t.taskId, t.exceptions,
        t.attributes, t.timing,
        t.loggedValues.map { case (k, v) => k -> (v.tpe, content(v.content)) },
        t.loggedArtifacts.map(a => (a.name, a.tpe, content(a.content))))))
  }

  /** The summary, or the error's class and message. Which two values an
    * attribute conflict names depends on row order, so only its key is
    * compared. */
  private def outcome(parse: => WorkflowSummary): Either[String, Any] =
    Try(parse).toEither.left.map(e => s"${e.getClass.getName}: " +
        String.valueOf(e.getMessage).replaceAll(" with different values .*", ""))
      .map(comparable)

  private def assertParity(spans: Seq[SpanRow]): Either[String, Any] = {
    val df = SpanModel.toDF(spark, spans)
    val driver = outcome(SpanParser.parseSpans(df))
    assert(driver == outcome(ParseOracles.parseSpansUnion(df)))
    driver
  }

  test("parity on the ParserSpec fixtures") {
    import ParserSpec._
    val ipynb = """{"cells": [{"cell_type": "code", "source": "print(1)", """ +
      """"outputs": [{"output_type": "stream", "text": "1\n"}]}], "nbformat": 4}"""
    val variants = Seq(
      withLinks,
      workflowSpans :+ span("artefact", "0xnb", Some("0xc1"),
        start = "2021-01-01T00:00:04.000000Z", end = "2021-01-01T00:00:04.100000Z",
        attrs = Map("name" -> "notebook.ipynb", "type" -> "utf-8",
          "encoding" -> "utf-8", "content_encoded" -> ipynb), status = "OK"),
      workflowSpans :+ span("named-value", "0xv2", Some("0xc1"),
        start = "2021-01-01T00:00:05.000000Z", end = "2021-01-01T00:00:05.100000Z",
        attrs = Map("name" -> "accuracy", "type" -> "int",
          "encoding" -> "json", "content_encoded" -> "1"), status = "OK"),
      workflowSpans :+ span("named-value", "0xv3", Some("0xc1"),
        attrs = Map("name" -> "partial", "type" -> "int",
          "encoding" -> "json", "content_encoded" -> "1"), status = "ERROR"),
      workflowSpans.map {
        case s if s.name == "dag-top-span" => s.copy(attributes = s.attributes +
          ("workflow.workflow_run_id" -> "\"0xrun42\""))
        case s => s
      },
      workflowSpans.map {
        case s if Set("0xc2", "0xv1", "0xa1", "0xt2")(s.context.span_id) =>
          s.copy(start_time = null)
        case s => s
      },
      // conflicting task attribute inside one task's subtree
      workflowSpans :+ span("call-python-function", "0xc3", Some("0xg1"),
        attrs = Map("task.id" -> "other")))
    val results = variants.map(assertParity)
    assert(results.count(_.isRight) == 5, results.collect { case Left(e) => e })
    assert(results(2).left.exists(_.contains("accuracy has been logged multiple times")))
    assert(results(6).left.exists(_.contains("Encountered key=task.id")))
  }

  test("parity on nested tasks, null names and start times, cycles, " +
    "null traces and span ids repeated within one trace") {
    val nv = Map("name" -> "x", "type" -> "int", "encoding" -> "json",
      "content_encoded" -> "7")
    val art = Map("name" -> "a.txt", "type" -> "utf-8", "encoding" -> "utf-8",
      "content_encoded" -> "payload")
    val base = Seq(
      span("execute-task", "0xt1", None, traceId = "0xA",
        start = "2021-01-01T00:00:01.000000Z",
        attrs = Map("task.id" -> "outer", "task.type" -> "python"),
        events = Seq(exceptionEvent("own failure"))),
      span("execute-task", "0xt2", Some("0xt1"), traceId = "0xA",
        start = "2021-01-01T00:00:02.000000Z",
        // a nested task's attributes join its ancestor task's union, so
        // its task.id must agree with the outer one's
        attrs = Map("task.id" -> "outer", "task.type" -> "python",
          "task.extra" -> 1)),
      span("call-function", "0xleaf", Some("0xt2"), traceId = "0xA",
        events = Seq(exceptionEvent("boom 1"), exceptionEvent("boom 2"))),
      span("named-value", "0xv", Some("0xleaf"), traceId = "0xA",
        attrs = nv, status = "OK"),
      span("artefact", "0xart", Some("0xt2"), traceId = "0xA",
        attrs = art, status = "OK"),
      span("noname", "0xnull", Some("0xt1"), traceId = "0xA",
        attrs = Map("task.note" -> "unnamed")).copy(name = null),
      span("execute-task", "0xt3", None, traceId = "0xB",
        attrs = Map("task.id" -> "late-start", "task.type" -> "python"))
        .copy(start_time = null),
      span("artefact", "0xart3", Some("0xt3"), traceId = "0xB",
        attrs = art, status = "OK").copy(start_time = null),
      span("a", "0xc1", Some("0xc2"), traceId = "0xC",
        events = Seq(exceptionEvent("cyclic"))),
      span("b", "0xc2", Some("0xc1"), traceId = "0xC"),
      span("execute-task", "0xt4", None, traceId = null,
        attrs = Map("task.id" -> "no-trace", "task.type" -> "python")),
      span("task-dependency", "0xd", Some("0xt2"), traceId = "0xA",
        attrs = Map("from_task_span_id" -> "0xt1", "to_task_span_id" -> "0xt2")),
      span("workflow", "0xw", None, traceId = "0xA",
        attrs = Map("workflow.env" -> "e")))
    val ok = assertParity(base)
    assert(ok.isRight, ok)

    def repeat(sid: String) = base ++ base.filter(_.context.span_id == sid)
    // a repeated artefact / exception-bearing span multiplies its rows; a
    // repeated named value is a repeated name
    Seq("0xart", "0xleaf", "0xt2").foreach(sid => assert(assertParity(repeat(sid)).isRight, sid))
    assert(assertParity(repeat("0xv")).left.exists(_.contains("x has been logged multiple times")))
  }

  /** An engine-run DAG: values, artefacts, a failing task, a timed-out
    * task and a downstream task pruned by the failure. */
  private def engineLog(): Seq[SpanRow] = {
    val engine = new Engine(spark, 2)
    val src = engine.task("source")(_ => {
      val ctx = TaskContext.get
      ctx.logInt("n", 3)
      ctx.logValue("meta", Vector(1L, 2L))
      ctx.logArtefact("out.txt", "contents")
      ctx.logArtefact("raw.bin", Array[Byte](1, 2, 3))
      3
    })
    val bad = engine.task("bad")(_ => {
      TaskContext.get.logString("before", "failing")
      throw new RuntimeException("boom")
    })
    val stuck = engine.task("stuck", timeoutS = Some(0.3))(_ => {
      Thread.sleep(60000L); 0
    })
    val two = engine.task("two")(_ => 2)
    val sum = engine.task("sum")(args => args.map(_.asInstanceOf[Int]).sum)
    val pruned = engine.task("pruned")(_ => 0)
    SpanRecorder.record(engine) {
      engine.runDag(Seq(sum(Seq(src(Nil), two(Nil))), pruned(Seq(bad(Nil))), stuck(Nil)),
        Map("workflow.env" -> "test"))
    }
  }

  test("parity on an engine-run DAG with failures and a timeout") {
    val out = assertParity(engineLog())
    assert(out.isRight, out)
  }

  /** Spark jobs started by `body` on this thread, counted by a listener;
    * a marker job after it flushes the listener bus. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"parse-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "parse")
      val out = body
      sc.setJobGroup(s"$group-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus never delivered the marker")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("parseSpans over an engine span log runs exactly one Spark job") {
    val sink = new graft.exec.SpanSink
    engineLog().foreach(sink.add)
    val file = java.nio.file.Files.createTempFile("graft-parse-jobs", ".jsonl")
    sink.writeJsonl(file.toString)
    val spans = graft.spans.SpanSource.readJsonl(spark, file.toString)
    val (summary, jobs) = jobsOf(SpanParser.parseSpans(spans))
    assert(summary.taskRuns.map(_.taskId).toSet == Set("source", "two", "sum", "bad", "stuck"))
    assert(jobs == 1)
  }
}
