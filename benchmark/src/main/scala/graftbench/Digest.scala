package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result: columns sorted by name, every
  * value rendered with its type, rows sorted — the same canonical form
  * `scripts/check.py` compares against DuckDB, reduced to one hash so the
  * benchmark can carry a golden answer per row. */
object Digest {

  case class Result(sha256: String, rows: Long)

  def of(df: DataFrame): Result = of(df.columns.toSeq, df.collect().toSeq)

  def of(columns: Seq[String], rows: Seq[Row]): Result = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    lines.foreach { l =>
      md.update('\n'.toByte)
      md.update(l.getBytes(StandardCharsets.UTF_8))
    }
    Result(md.digest().map(b => f"$b%02x").mkString, rows.size.toLong)
  }

  /** Type-tagged canonical text of one value; nested values keep their own
    * order except maps, whose entries are sorted. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => "d:" + (if (d.isNaN) "NaN" else java.lang.Double.toString(d))
    case f: Float => "f:" + (if (f.isNaN) "NaN" else java.lang.Float.toString(f))
    case b: java.math.BigDecimal => "n:" + b.toPlainString
    case b: BigDecimal => "n:" + b.bigDecimal.toPlainString
    case b: Array[Byte] => "b:" + java.util.Base64.getEncoder.encodeToString(b)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case t: java.sql.Timestamp => "t:" + t.toInstant.toString
    case t: java.time.Instant => "t:" + t.toString
    case other => other.getClass.getSimpleName + ":" + other.toString
  }
}
