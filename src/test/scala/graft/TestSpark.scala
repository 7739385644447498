package graft

import org.apache.spark.sql.SparkSession

import graft.model.{AttrCodec, SpanContextRow, SpanEventRow, SpanLinkRow, SpanRow, SpanStatusRow}

/** One shared local session for the whole suite: the session every main
  * runs ([[Harness.builder]]), so specs run the mains' optimizer
  * configuration. */
object TestSpark {
  lazy val spark: SparkSession = Harness.session(Harness.builder()
    // catalog tables (BucketingSpec) land in a throwaway warehouse, not
    // the repo working directory
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}

/** Hand-built span fixtures (ports of the reference's UDT/span fixtures,
  * `tests/test_composable_logs/test_opentelemetry_helpers.py:43-132`). */
object SpanFixtures {
  def span(
      name: String,
      spanId: String,
      parentId: Option[String] = None,
      start: String = "2021-10-10T10:25:35.173367Z",
      end: String = "2021-10-10T10:25:46.173381Z",
      attrs: Map[String, Any] = Map.empty,
      status: String = "UNSET",
      statusDesc: Option[String] = None,
      events: Seq[SpanEventRow] = Nil,
      links: Seq[SpanLinkRow] = Nil,
      traceId: String = "0xabc123"): SpanRow =
    SpanRow(
      name = name,
      context = SpanContextRow(traceId, spanId, "[]"),
      parent_id = parentId,
      kind = "SpanKind.INTERNAL",
      start_time = start,
      end_time = end,
      status = SpanStatusRow(status, statusDesc),
      attributes = AttrCodec.renderMap(attrs),
      events = events,
      links = links,
      resource = Map.empty)

  def exceptionEvent(msg: String, tpe: String = "ValueError",
      ts: String = "2021-10-10T10:25:40.000000Z"): SpanEventRow =
    SpanEventRow("exception", ts, AttrCodec.renderMap(Map(
      "exception.type" -> tpe,
      "exception.message" -> msg,
      "exception.stacktrace" -> "...",
      "exception.escaped" -> "False")))
}
