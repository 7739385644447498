package graft.queries

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The battery contract's unit: each row is declared once, as a [[Row]]
  * in its module's `rows` list, and every view of the battery (the query
  * and oracle maps, the mains' selection) is derived from the
  * concatenated lists. */
object Battery {

  /** One battery row: its name (keyed into SURVEY §2, e.g. d07 = Group D
    * row 7), its Spark query over a fixture directory, and the
    * DuckDB-runnable SQL over the same parquet tables whose result the
    * oracle check hash-compares with the query's. */
  final case class Row(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: String)

  /** `rows` keyed by name, in declaration order. Throws, naming every
    * name declared more than once: a repeated name would otherwise
    * silently shadow one of the rows. */
  def table(rows: Seq[Row]): ListMap[String, Row] = {
    val repeated = rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(repeated.isEmpty,
      s"battery rows declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    ListMap(rows.map(r => r.name -> r): _*)
  }
}
