package graft

import org.apache.spark.sql.functions.{col, get_json_object}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.SpanModel
import graft.parser.SpanParser
import SpanFixtures._

/** Parser-layer tests (SURVEY §2 Group B) over a hand-built workflow span
  * tree shaped like the reference's recorded runs (§3.2). */
class ParserSpec extends AnyFunSuite {
  import ParserSpec._
  lazy val spark = TestSpark.spark

  test("B1/B2 dependency extraction agree (attr + link forms)") {
    val df = SpanModel.toDF(spark, withLinks)
    assert(SpanParser.extractTaskDependencies(df) == Set(("0xt1", "0xt2")))
    assert(SpanParser.extractTaskDependenciesFromLinks(df) == Set(("0xt1", "0xt2")))
  }

  test("B3/B4 parseSpans: workflow + task summaries") {
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withLinks))

    assert(s.attributes == Map("workflow.env" -> "xyz"))
    assert(s.spanId.startsWith("NO-TOP-SPAN--TEMP")) // uuid fallback (B4)
    assert(s.timing == graft.parser.Timing(
      "2021-01-01T00:00:00.000000Z", "2021-01-01T00:00:20.000000Z"))
    assert(s.taskDependencies == Set(("0xt1", "0xt2")))
    assert(!s.isSuccess)

    assert(s.taskRuns.map(_.taskId) == Seq("ingest", "train")) // start order
    val ingest = s.taskRuns.head
    assert(ingest.spanId == "0xt1")
    assert(ingest.parentSpanId == s.spanId)
    assert(ingest.isSuccess)
    assert(ingest.attributes == Map(
      "workflow.env" -> "xyz", "task.id" -> "ingest", "task.type" -> "python",
      "task.num_cpus" -> 1L, "task.timeout_s" -> -1L))
    assert(ingest.timing.durationS == 9.0)
    assert(ingest.loggedValues == Map(
      "accuracy" -> graft.parser.LoggedValueContent("float", 0.98)))
    assert(ingest.loggedArtifacts.map(_.name) == Seq("README.md"))
    assert(ingest.getArtifact("README.md").content == "foobar123")

    val train = s.taskRuns(1)
    assert(train.isFailure)
    assert(train.exceptions.size == 1)
    val exc = train.exceptions.head
    assert(exc("attributes").asInstanceOf[Map[String, Any]]("exception.message")
      == "train failed!")
    assert(train.attributes("task.timeout_s") == 10.5)
  }

  test("null start_time spans parse cleanly (null-tolerant fold sort)") {
    // SpanSource tolerates missing start_time; the driver-side fold must
    // too (it sorts exception/value/artifact rows by start_time — a raw
    // String Ordering NPEs). Regression for the round-2/3 advice finding.
    val withNulls = workflowSpans.map {
      case s if s.context.span_id == "0xc2" => s.copy(start_time = null)
      case s if s.context.span_id == "0xv1" => s.copy(start_time = null)
      case s if s.context.span_id == "0xa1" => s.copy(start_time = null)
      case s => s
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withNulls))
    assert(s.taskRuns.map(_.taskId) == Seq("ingest", "train"))
    assert(s.taskRuns(1).exceptions.size == 1)
    assert(s.taskRuns.head.loggedValues.contains("accuracy"))
    assert(s.taskRuns.head.loggedArtifacts.map(_.name) == Seq("README.md"))
  }

  test("B5 notebook.html artifact derivation renders sources and outputs") {
    // the reference's own html assertions (test_ok_notebook.py:37-74):
    // cell SOURCE text and printed OUTPUT text both appear in the html
    val ipynb =
      """{"cells": [
        | {"cell_type": "markdown", "source": ["# Title\n", "intro"]},
        | {"cell_type": "code",
        |  "source": ["print(1 + 12 + 123 + 1234 + 12345)\n",
        |             "print(f'variable_a={P[\"task.variable_a\"]}')"],
        |  "outputs": [
        |   {"output_type": "stream", "text": ["13715\n", "variable_a=task-value\n"]},
        |   {"output_type": "execute_result", "data": {"text/plain": ["42"]}},
        |   {"output_type": "error", "ename": "ValueError", "evalue": "boom",
        |    "traceback": ["Traceback...<cut>"]}]}],
        | "nbformat": 4}""".stripMargin
    val withNb = workflowSpans :+ span("artefact", "0xnb", Some("0xc1"),
      start = "2021-01-01T00:00:04.000000Z", end = "2021-01-01T00:00:04.100000Z",
      attrs = Map("name" -> "notebook.ipynb", "type" -> "utf-8",
        "encoding" -> "utf-8", "content_encoded" -> ipynb),
      status = "OK")
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withNb))
    val names = s.taskRuns.head.loggedArtifacts.map(_.name)
    assert(names == Seq("README.md", "notebook.ipynb", "notebook.html"))
    val html = s.taskRuns.head.getArtifact("notebook.html")
      .content.asInstanceOf[String]
    assert(html.contains("variable_a=task-value")) // printed output
    assert(html.contains("13715")) // evaluated sum
    assert(html.contains("print(1 + 12 + 123 + 1234 + 12345)")) // source
    assert(html.contains("<h1>Title</h1>")) // markdown cell rendered as markup
    assert(html.contains("42")) // execute_result text/plain
    assert(html.contains("ValueError: boom")) // error output
    assert(html.contains("Traceback...&lt;cut&gt;")) // html-escaped
  }

  test("B5 malformed notebook.ipynb falls back to raw rendering, not a crash") {
    val withBad = workflowSpans :+ span("artefact", "0xnb2", Some("0xc1"),
      start = "2021-01-01T00:00:04.000000Z", end = "2021-01-01T00:00:04.100000Z",
      attrs = Map("name" -> "notebook.ipynb", "type" -> "utf-8",
        "encoding" -> "utf-8", "content_encoded" -> "{\"cells\": [truncated"),
      status = "OK")
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, withBad))
    val html = s.taskRuns.head.getArtifact("notebook.html")
      .content.asInstanceOf[String]
    assert(html.contains("ipynb-raw") && html.contains("truncated"))
  }

  test("B6 duplicate named value rejected") {
    val dup = workflowSpans :+ span("named-value", "0xv2", Some("0xc1"),
      start = "2021-01-01T00:00:05.000000Z", end = "2021-01-01T00:00:05.100000Z",
      attrs = Map("name" -> "accuracy", "type" -> "int",
        "encoding" -> "json", "content_encoded" -> "1"),
      status = "OK")
    val e = intercept[Exception](
      SpanParser.parseSpans(SpanModel.toDF(spark, dup)))
    assert(e.getMessage.contains("accuracy has been logged multiple times"))
  }

  test("B6 non-OK payload spans are ignored") {
    val failed = workflowSpans :+ span("named-value", "0xv3", Some("0xc1"),
      start = "2021-01-01T00:00:06.000000Z", end = "2021-01-01T00:00:06.100000Z",
      attrs = Map("name" -> "partial", "type" -> "int",
        "encoding" -> "json", "content_encoded" -> "1"),
      status = "ERROR")
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, failed))
    assert(!s.taskRuns.head.loggedValues.contains("partial"))
  }

  test("workflow.workflow_run_id becomes the top span id (B4)") {
    val tagged = workflowSpans.map {
      case s if s.name == "dag-top-span" =>
        s.copy(attributes = s.attributes +
          ("workflow.workflow_run_id" -> "\"0xrun42\""))
      case s => s
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, tagged))
    assert(s.spanId == "0xrun42")
    assert(s.taskRuns.forall(_.parentSpanId == "0xrun42"))
  }

  test("ownership tagging: nested tasks, multiple traces, null names, " +
    "cycles — grouped walk agrees with iterative variant") {
    import graft.model.{SpanContextRow, SpanRow, SpanStatusRow}
    // trace A: task t1 with NESTED task t2 under it (a span below t2 must
    // be owned by BOTH); plus a null-name leaf; trace B: its own task.
    val spansA = Seq(
      span("execute-task", "0xt1", None, traceId = "0xA",
        attrs = Map("task.id" -> "outer", "task.type" -> "python")),
      span("execute-task", "0xt2", Some("0xt1"), traceId = "0xA",
        attrs = Map("task.id" -> "inner", "task.type" -> "python")),
      span("named-value", "0xleaf", Some("0xt2"), traceId = "0xA",
        attrs = Map("name" -> "x", "type" -> "int", "encoding" -> "json",
          "content_encoded" -> "1"), status = "OK"),
      span("noname", "0xnull", Some("0xt1"), traceId = "0xA")
        .copy(name = null),
      span("execute-task", "0xt3", None, traceId = "0xB",
        attrs = Map("task.id" -> "other", "task.type" -> "python")))
    // malformed cycle: two spans pointing at each other
    val cycle = Seq(
      span("a", "0xc1", Some("0xc2"), traceId = "0xC"),
      span("b", "0xc2", Some("0xc1"), traceId = "0xC"))
    val df = graft.model.SpanModel.toDF(spark, spansA ++ cycle)

    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val grouped = pairs(SpanParser.taggedSpans(df))
    val iterative = pairs(SpanParser.taggedSpansIterative(df))
    assert(grouped == iterative)
    assert(grouped.contains(("0xt1", "0xleaf")) && grouped.contains(("0xt2", "0xleaf")))
    assert(grouped.contains(("0xt1", "0xnull")))
    assert(grouped.contains(("0xt3", "0xt3")))
    assert(!grouped.exists(_._2 == "0xc1")) // cycle terminates, owns nothing
  }

  test("ownership is keyed by (trace, span id): two runs sharing a " +
    "named-value span id each keep their own value") {
    def run(trace: String, task: String, v: Long) = Seq(
      span("execute-task", s"0xt$task", None, traceId = trace,
        attrs = Map("task.id" -> task, "task.type" -> "python"), status = "OK"),
      span("named-value", "0x01", Some(s"0xt$task"), traceId = trace,
        attrs = Map("name" -> "x", "type" -> "int", "encoding" -> "json",
          "content_encoded" -> v.toString), status = "OK"))
    val df = SpanModel.toDF(spark, run("0xA", "a", 1L) ++ run("0xB", "b", 2L))
    val s = SpanParser.parseSpans(df)
    assert(s.taskRuns.map(t => t.taskId -> t.loggedValues) == Seq(
      "a" -> Map("x" -> graft.parser.LoggedValueContent("int", 1L)),
      "b" -> Map("x" -> graft.parser.LoggedValueContent("int", 2L))))
    // the distributed path attributes by trace too
    val nv = SpanParser.namedValuesDF(df)
      .select(col("task_span_id"), get_json_object(
        col("attributes").getItem("content_encoded"), "$"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(nv == Set(("0xta", "1"), ("0xtb", "2")))
  }

  test("B9 taskRunsDF flat view") {
    val df = SpanParser.taskRunsDF(SpanModel.toDF(spark, workflowSpans))
    val rows = df.orderBy("start_time").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("task_id") == "ingest")
    assert(rows(0).getAs[Boolean]("is_success"))
    assert(!rows(1).getAs[Boolean]("is_success"))
    assert(rows(1).getAs[Long]("n_exceptions") == 1L)
  }

  test("B9 fused taskRunsDF == three-branch reference on nested tasks, " +
    "multi-exception children, cycles, null names") {
    // trace A: nested tasks — t2 under t1; a leaf under t2 with TWO
    // exception events must count toward BOTH tasks; t1 carries its own
    // exception; a null-name child; trace B: clean task; trace C: cycle.
    val nested = Seq(
      span("execute-task", "0xt1", None, traceId = "0xA",
        attrs = Map("task.id" -> "outer"),
        events = Seq(exceptionEvent("own failure"))),
      span("execute-task", "0xt2", Some("0xt1"), traceId = "0xA",
        attrs = Map("task.id" -> "inner")),
      span("call-function", "0xleaf", Some("0xt2"), traceId = "0xA",
        events = Seq(exceptionEvent("boom 1"), exceptionEvent("boom 2"))),
      span("noname", "0xnull", Some("0xt1"), traceId = "0xA")
        .copy(name = null),
      span("execute-task", "0xt3", None, traceId = "0xB",
        attrs = Map("task.id" -> "clean")),
      span("a", "0xc1", Some("0xc2"), traceId = "0xC",
        events = Seq(exceptionEvent("cyclic"))),
      span("b", "0xc2", Some("0xc1"), traceId = "0xC"))
    val df = SpanModel.toDF(spark, nested)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getAs[String]("task_span_id"),
        r.getAs[String]("start_time"), r.getAs[String]("end_time"),
        r.getAs[String]("task_id"), r.getAs[Long]("n_exceptions"),
        r.getAs[Boolean]("is_success"), r.getAs[Double]("duration_s"))).toSet
    val fused = rows(SpanParser.taskRunsDF(df))
    val ref = rows(ParseOracles.taskRunsDFUnfused(df))
    assert(fused == ref)
    val byId = fused.map(t => t._1 -> t._5).toMap
    assert(byId("0xt1") == 3L) // own + both leaf events through t2's chain
    assert(byId("0xt2") == 2L)
    assert(byId("0xt3") == 0L)
  }
}

/** The hand-built workflow fixtures, shared with [[ParseParitySpec]]. */
object ParserSpec {
  /** A 2-task workflow: top → (task1 → guard1 → call1 → value+artefact,
    * task2 → guard2 → call2(error)), plus dependency spans task1→task2. */
  def workflowSpans = Seq(
    span("dag-top-span", "0xtop", None,
      start = "2021-01-01T00:00:00.000000Z", end = "2021-01-01T00:00:20.000000Z",
      attrs = Map("workflow.env" -> "xyz")),
    span("execute-task", "0xt1", Some("0xtop"),
      start = "2021-01-01T00:00:01.000000Z", end = "2021-01-01T00:00:10.000000Z",
      attrs = Map("workflow.env" -> "xyz", "task.id" -> "ingest",
        "task.type" -> "python", "task.num_cpus" -> 1, "task.timeout_s" -> -1),
      status = "OK"),
    span("timeout-guard", "0xg1", Some("0xt1"),
      start = "2021-01-01T00:00:01.100000Z", end = "2021-01-01T00:00:09.900000Z",
      status = "OK"),
    span("call-python-function", "0xc1", Some("0xg1"),
      start = "2021-01-01T00:00:01.200000Z", end = "2021-01-01T00:00:09.800000Z",
      status = "OK"),
    span("named-value", "0xv1", Some("0xc1"),
      start = "2021-01-01T00:00:02.000000Z", end = "2021-01-01T00:00:02.100000Z",
      attrs = Map("name" -> "accuracy", "type" -> "float",
        "encoding" -> "json", "content_encoded" -> "0.98"),
      status = "OK"),
    span("artefact", "0xa1", Some("0xc1"),
      start = "2021-01-01T00:00:03.000000Z", end = "2021-01-01T00:00:03.100000Z",
      attrs = Map("name" -> "README.md", "type" -> "utf-8",
        "encoding" -> "utf-8", "content_encoded" -> "foobar123"),
      status = "OK"),
    span("execute-task", "0xt2", Some("0xtop"),
      start = "2021-01-01T00:00:11.000000Z", end = "2021-01-01T00:00:19.000000Z",
      attrs = Map("workflow.env" -> "xyz", "task.id" -> "train",
        "task.type" -> "python", "task.num_cpus" -> 2, "task.timeout_s" -> 10.5),
      status = "ERROR", statusDesc = Some("Failure")),
    span("task-dependency", "0xd1", Some("0xt2"),
      start = "2021-01-01T00:00:11.100000Z", end = "2021-01-01T00:00:11.200000Z",
      attrs = Map("from_task_span_id" -> "0xt1", "to_task_span_id" -> "0xt2")),
    span("timeout-guard", "0xg2", Some("0xt2"),
      start = "2021-01-01T00:00:11.300000Z", end = "2021-01-01T00:00:18.900000Z",
      status = "ERROR", statusDesc = Some("Failure")),
    span("call-python-function", "0xc2", Some("0xg2"),
      start = "2021-01-01T00:00:11.400000Z", end = "2021-01-01T00:00:18.800000Z",
      status = "ERROR", statusDesc = Some("Failure"),
      events = Seq(exceptionEvent("train failed!"))))

  def withLinks = workflowSpans.map {
    case s if s.context.span_id == "0xt2" =>
      s.copy(links = Seq(graft.model.SpanLinkRow(
        graft.model.SpanContextRow("0xabc123", "0xt1", "[]"),
        Map("type" -> "\"task-dependency\""))))
    case s => s
  }
}
