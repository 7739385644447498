package graft.model

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.types._

/** The span data model (SURVEY §1.4): one row per OpenTelemetry span.
  *
  * Shape mirrors the reference's canonical span fixture
  * (`tests/test_composable_logs/test_opentelemetry_helpers.py:43-74`): the
  * schemaless Python dict becomes an explicit `StructType` so Catalyst can
  * prune and push down. Attribute values are heterogeneous in OTel JSON
  * (int/float/bool/str); here every value is stored as its JSON rendering
  * (see [[AttrCodec]]) inside a `MAP<STRING,STRING>`, decoded back to typed
  * values at API boundaries.
  */
case class SpanContextRow(
    trace_id: String,
    span_id: String,
    trace_state: String)

case class SpanStatusRow(
    status_code: String,
    description: Option[String])

case class SpanEventRow(
    name: String,
    timestamp: String,
    attributes: Map[String, String])

case class SpanLinkRow(
    context: SpanContextRow,
    attributes: Map[String, String])

case class SpanRow(
    name: String,
    context: SpanContextRow,
    parent_id: Option[String],
    kind: String,
    start_time: String,
    end_time: String,
    status: SpanStatusRow,
    attributes: Map[String, String],
    events: Seq[SpanEventRow],
    links: Seq[SpanLinkRow],
    resource: Map[String, String])

object SpanModel {
  implicit val spanEncoder: Encoder[SpanRow] = Encoders.product[SpanRow]

  /** The canonical span schema (SURVEY §1.4). */
  val schema: StructType = spanEncoder.schema

  def toDF(spark: SparkSession, spans: Seq[SpanRow]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataset(spans)(spanEncoder).toDF()
  }
}

/** Codec for heterogeneous OTel attribute values stored as JSON text in
  * `MAP<STRING,STRING>` columns.
  *
  * The reference keeps native Python values (`int | float | bool | str`,
  * `opentelemetry_task_span_parser.py:231-233`); JSON rendering keeps the
  * type tag without widening the Spark schema to a variant struct:
  * `1 → "1"`, `1.5 → "1.5"`, `true → "true"`, `"xyz" → "\"xyz\""`.
  */
object AttrCodec {
  def render(v: Any): String = v match {
    case null => throw new IllegalArgumentException(
      "OpenTelemetry attributes should be non-null")
    case s: String => Json.quote(s)
    case b: Boolean => if (b) "true" else "false"
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => Json.renderDouble(d)
    case f: Float => Json.renderDouble(f.toDouble)
    case other => throw new IllegalArgumentException(
      s"Attribute values should be int|float|bool|str, got: $other")
  }

  def parse(s: String): Any = Json.parse(s) match {
    case v @ (_: String | _: Boolean | _: Long | _: Double) => v
    case other => throw new IllegalArgumentException(
      s"Attribute value should decode to a scalar, got: $other")
  }

  /** The one value of attribute `k` from its raw renderings across spans:
    * a key bound to two distinct values is the attribute-union conflict
    * (`opentelemetry_helpers.py:459-491`), raised as an
    * IllegalArgumentException naming the key and two of the values. */
  def resolve(k: String, raws: Seq[String]): Any = {
    val distinct = raws.distinct
    if (distinct.size > 1) {
      val vs = distinct.map(parse)
      throw new IllegalArgumentException(
        s"Encountered key=$k with different values ${vs.head} and ${vs(1)}")
    }
    parse(distinct.head)
  }

  def renderMap(m: Map[String, Any]): Map[String, String] =
    m.map { case (k, v) => k -> render(v) }

  def parseMap(m: Map[String, String]): Map[String, Any] =
    m.map { case (k, v) => k -> parse(v) }
}
