package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Battery, CodecOps, GraphOps, LlmOps, Relational, SpanAlgebra, TpchShapes}

/** The battery contract — see SURVEY.md §7.
  *
  * Each module declares each of its battery rows once, as a
  * [[graft.queries.Battery.Row]] (name, Spark query over a fixture
  * directory, DuckDB oracle SQL) in its `rows` list. [[rows]]
  * concatenates the lists and fails initialization, naming the
  * offenders, if a name repeats; [[queries]] and [[oracleSql]] are the
  * two views the oracle check (`graft.Verify` + `scripts/check.py`) and
  * the benchmark read. Names key into SURVEY §2 rows (d07 = Group D
  * row 7, a7 = Group A row 7, i1 = Group I row 1, ...).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every battery row by name, in module declaration order. */
  lazy val rows: ListMap[String, Battery.Row] = Battery.table(
    Relational.rows ++ LlmOps.rows ++ SpanAlgebra.rows ++
      CodecOps.rows ++ TpchShapes.rows ++ GraphOps.rows)

  /** Each row's Spark query. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map { case (n, r) => n -> r.run }

  /** Each row's DuckDB oracle SQL, over the same parquet tables. */
  def oracleSql: Map[String, String] =
    rows.map { case (n, r) => n -> r.oracle }
}
