package graft
import scala.collection.immutable.ListMap
import java.nio.file.{Files, Paths}
import graft.model.Json
/** Correctness dump: each selected SparkEntry query's result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (`scripts/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    Harness.withSession { spark =>
      Harness.queries().foreach { case (name, fn) =>
        // the start marker brackets each query's log output so engine
        // warnings (e.g. empty-key WindowExec) attribute to their owner
        System.err.println(s"[verify] running $name")
        Harness.guard(spark, "verify", name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
  }

  /** The oracle map as one JSON object, keys sorted. Every control
    * character in the SQL is escaped: a raw tab or CR would make a JSON
    * reader (Python's json.load) fail and silently zero the correctness
    * check. */
  private[graft] def oracleJson(oracles: Map[String, String]): String =
    Json.render(ListMap(oracles.toSeq.sortBy(_._1): _*))
}
