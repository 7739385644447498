package graft.exec

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ThreadLocalRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{AttrCodec, Json, SpanContextRow, SpanEventRow, SpanLinkRow, SpanModel, SpanRow, SpanStatusRow, TimeFns}

/** In-memory span sink (SURVEY §2 E10): the engine's replacement for the
  * reference's Ray file exporter + tmp-file JSONL diffing
  * (`opentelemetry_helpers.py:494-546`). Synchronous and thread-safe, so the
  * sleeps/force-flushes the reference needs are structurally unnecessary.
  */
final class SpanSink {
  private val buf = new ConcurrentLinkedQueue[SpanRow]()

  def add(s: SpanRow): Unit = buf.add(s)
  def spans: Seq[SpanRow] = buf.iterator().asScala.toSeq
  def size: Int = buf.size()
  def clear(): Unit = buf.clear()

  def toDF(spark: SparkSession): DataFrame = SpanModel.toDF(spark, spans)

  /** JSONL append-style dump, one OTel-style JSON object per line (the
    * reference's at-rest format, `conftest.py:19`). */
  def writeJsonl(path: String): Unit = {
    val lines = spans.map(SpanJson.render).mkString("", "\n", "\n")
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.write(p, lines.getBytes(StandardCharsets.UTF_8))
  }
}

/** Renders a SpanRow as OTel-JSON (attribute values decoded back to native
  * JSON scalars, matching the files the reference parses). */
object SpanJson {
  private def attrsToJson(m: Map[String, String]): Any =
    m.map { case (k, v) => k -> Json.parse(v) }

  def render(s: SpanRow): String = Json.render(scala.collection.immutable.ListMap(
    "name" -> s.name,
    "context" -> scala.collection.immutable.ListMap(
      "trace_id" -> s.context.trace_id,
      "span_id" -> s.context.span_id,
      "trace_state" -> s.context.trace_state),
    "kind" -> s.kind,
    "parent_id" -> s.parent_id.orNull,
    "start_time" -> s.start_time,
    "end_time" -> s.end_time,
    "status" -> (scala.collection.immutable.ListMap("status_code" -> s.status.status_code) ++
      s.status.description.map(d => "description" -> d)),
    "attributes" -> attrsToJson(s.attributes),
    "events" -> s.events.map(e => scala.collection.immutable.ListMap(
      "name" -> e.name,
      "timestamp" -> e.timestamp,
      "attributes" -> attrsToJson(e.attributes))),
    "links" -> s.links.map(l => scala.collection.immutable.ListMap(
      "context" -> scala.collection.immutable.ListMap(
        "trace_id" -> l.context.trace_id,
        "span_id" -> l.context.span_id,
        "trace_state" -> l.context.trace_state),
      "attributes" -> attrsToJson(l.attributes))),
    "resource" -> attrsToJson(s.resource)))
}

case class SpanContext(traceId: String, spanId: String) {
  /** W3C traceparent (the reference's cross-process context carrier). */
  def traceparent: String =
    s"00-${traceId.stripPrefix("0x")}-${spanId.stripPrefix("0x")}-01"
}

object SpanContext {
  def fromTraceparent(tp: String): SpanContext = {
    val parts = tp.split("-")
    require(parts.length == 4, s"Bad traceparent: $tp")
    SpanContext("0x" + parts(1), "0x" + parts(2))
  }
}

/** Mutable in-flight span; appended to the sink on `end()`. */
final class OpenSpan(
    tracer: Tracer,
    val name: String,
    val ctx: SpanContext,
    parentId: Option[String],
    links: Seq[SpanContext]) {

  private val attrs = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val events = scala.collection.mutable.ArrayBuffer.empty[SpanEventRow]
  @volatile private var statusCode: String = "UNSET"
  @volatile private var statusDesc: Option[String] = None
  private val startIso = TimeFns.toIso(tracer.now())

  def setAttribute(key: String, value: Any): Unit = synchronized {
    attrs(key) = AttrCodec.render(value)
  }

  def setStatus(code: String, description: Option[String] = None): Unit = {
    statusCode = code
    statusDesc = description
  }

  /** Matches OTel `record_exception`: an `exception` event with
    * type/message/stacktrace/escaped attributes. */
  def recordException(e: Throwable): Unit = synchronized {
    val sw = new java.io.StringWriter()
    e.printStackTrace(new java.io.PrintWriter(sw))
    events += SpanEventRow(
      name = "exception",
      timestamp = TimeFns.toIso(tracer.now()),
      attributes = Map(
        "exception.type" -> AttrCodec.render(exceptionTypeName(e)),
        "exception.message" -> AttrCodec.render(graft.model.Errors.messageOf(e)),
        "exception.stacktrace" -> AttrCodec.render(sw.toString),
        "exception.escaped" -> AttrCodec.render("False")))
  }

  private def exceptionTypeName(e: Throwable): String = e match {
    case _: graft.model.ExceptionGroup => "ExceptionGroup"
    case other => other.getClass.getSimpleName
  }

  def end(): Unit = {
    tracer.sink.add(SpanRow(
      name = name,
      context = SpanContextRow(ctx.traceId, ctx.spanId, "[]"),
      parent_id = parentId,
      kind = "SpanKind.INTERNAL",
      start_time = startIso,
      end_time = TimeFns.toIso(tracer.now()),
      status = SpanStatusRow(statusCode, statusDesc),
      attributes = attrs.toMap,
      events = events.toSeq,
      links = links.map(l => SpanLinkRow(
        SpanContextRow(l.traceId, l.spanId, "[]"),
        Map("type" -> AttrCodec.render("task-dependency")))),
      resource = Map("telemetry.sdk.language" -> AttrCodec.render("scala"))))
  }
}

/** Span factory with ambient (thread-local) current-span context, mirroring
  * OTel's `start_as_current_span` nesting used throughout the reference. */
final class Tracer(val sink: SpanSink) {
  private val lastUs = new AtomicLong(0L)
  private val ambient = new ThreadLocal[List[OpenSpan]] {
    override def initialValue(): List[OpenSpan] = Nil
  }

  /** Strictly monotonic clock (µs granularity) so span ordering by
    * start_time is total — the single-threaded reference gets this
    * implicitly from wall-clock; concurrent tasks here do not. The µs
    * come from ONE clock (`Instant.now()`): stamps built from two
    * unaligned clocks can record an interval up to 1 ms shorter than it
    * lasted, and a timed-out span shorter than its timeout. */
  def now(): Instant = {
    val wall = Instant.now()
    val nowUs = wall.getEpochSecond * 1000000L + wall.getNano / 1000L
    val us = lastUs.updateAndGet(prev => Math.max(prev + 1, nowUs))
    Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
  }

  private def randomHex(nBytes: Int): String = {
    val bytes = new Array[Byte](nBytes)
    ThreadLocalRandom.current().nextBytes(bytes)
    "0x" + bytes.map(b => f"$b%02x").mkString
  }

  def newTraceId(): String = randomHex(16)
  def newSpanId(): String = randomHex(8)

  def currentSpan: Option[OpenSpan] = ambient.get().headOption

  def startSpan(
      name: String,
      parent: Option[SpanContext] = None,
      links: Seq[SpanContext] = Nil): OpenSpan = {
    val parentCtx = parent.orElse(currentSpan.map(_.ctx))
    val traceId = parentCtx.map(_.traceId).getOrElse(newTraceId())
    new OpenSpan(this, name, SpanContext(traceId, newSpanId()),
      parentCtx.map(_.spanId), links)
  }

  /** `with tracer.start_as_current_span(name): ...` equivalent. */
  def inSpan[A](
      name: String,
      parent: Option[SpanContext] = None,
      links: Seq[SpanContext] = Nil)(body: OpenSpan => A): A = {
    val span = startSpan(name, parent, links)
    ambient.set(span :: ambient.get())
    try body(span)
    finally {
      ambient.set(ambient.get().tail)
      span.end()
    }
  }

  /** Run `body` with `ctx` as the ambient parent on THIS thread (used when
    * hopping threads: the child thread re-attaches the parent context). */
  def withAmbient[A](span: OpenSpan)(body: => A): A = {
    ambient.set(span :: ambient.get())
    try body
    finally ambient.set(ambient.get().tail)
  }
}
