package graft.queries

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.SerializedData
import graft.queries.Battery.Row

/** SURVEY §2 C1/C2 — the typed scalar codec as an oracle-checked query.
  *
  * Each order's key picks one of the five encode arms (string / bytes /
  * bool / int / float, reference `task_opentelemetry_logging.py:105-158`);
  * the REAL [[SerializedData.encode]] runs distributed per row and the
  * emitted (type, encoding, content) triple is hash-compared against
  * DuckDB recomputing the same encoding natively (`to_base64`, varchar
  * casts). The decode arm (C2) is pinned in the same row: `roundtrip_ok`
  * is encode∘decode == identity, so a broken dispatch flips a column the
  * oracle pins at true.
  *
  * The float arm uses half-integers (`okey % 10^6 + 0.5`): exactly
  * representable in binary AND below the magnitude where Scala's
  * shortest-repr `toString` switches to scientific notation (>= 10^7)
  * while DuckDB stays plain decimal, so the two engines agree
  * digit-for-digit at every scale factor — float formatting is the only
  * arm where they could diverge on valid output.
  */
object CodecOps {

  def codecRoundtrip(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        concat_ws(" ", col("o_orderpriority"), col("o_orderstatus")).as("payload"))
      .as[(Long, String)]
      .map { case (okey, payload) =>
        val value: Any = okey % 5 match {
          case 0 => payload
          case 1 => payload.getBytes(StandardCharsets.UTF_8)
          case 2 => okey % 2 == 0
          case 3 => okey
          case _ => (okey % 1000000).toDouble + 0.5
        }
        val enc = SerializedData.encode(value)
        val roundtripOk = (enc.decode(), value) match {
          case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
          case (a, b) => a == b
        }
        (okey, enc.tpe, enc.encoding, enc.encodedContent, roundtripOk)
      }
      .toDF("okey", "tpe", "encoding", "content_encoded", "roundtrip_ok")
  }

  private val codecRoundtripSql =
    """SELECT o_orderkey AS okey,
      | CASE o_orderkey % 5 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'bytes'
      |  WHEN 2 THEN 'bool' WHEN 3 THEN 'int' ELSE 'float' END AS tpe,
      | CASE o_orderkey % 5 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'base64'
      |  ELSE 'json' END AS encoding,
      | CASE o_orderkey % 5
      |  WHEN 0 THEN o_orderpriority || ' ' || o_orderstatus
      |  WHEN 1 THEN to_base64(encode(o_orderpriority || ' ' || o_orderstatus))
      |  WHEN 2 THEN CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END
      |  WHEN 3 THEN CAST(o_orderkey AS VARCHAR)
      |  ELSE CAST((o_orderkey % 1000000) + 0.5 AS VARCHAR) END AS content_encoded,
      | true AS roundtrip_ok
      |FROM orders""".stripMargin

  val rows: Seq[Row] = Seq(
    Row("c1c2_codec_roundtrip", codecRoundtrip, codecRoundtripSql)
  )
}
