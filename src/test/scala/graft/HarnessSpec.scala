package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Json
import graft.operators.Checkpoints
import graft.queries.{Battery, StateOnce}

/** [[Harness]]: query selection, the JSON the mains write, and the
  * spec session's configuration. */
class HarnessSpec extends AnyFunSuite {

  test("SPARK_GRAFT_QUERIES selects the sorted names containing a listed substring") {
    val all = Harness.queries(None).map(_._1)
    assert(all == SparkEntry.queries.keys.toSeq.sorted)
    val some = Harness.queries(Some(" a2_ ,d03_,,")).map(_._1)
    assert(some == all.filter(n => n.contains("a2_") || n.contains("d03_")))
    assert(some.contains("a2_sort_ranks") && some.exists(_.startsWith("d03_")))
    assert(Harness.queries(Some("no_such_query")).isEmpty)
  }

  test("every battery row has one query and one oracle") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == 178)
    assert(SparkEntry.oracleSql.size == 178)
  }

  test("a row table whose list repeats a name throws, naming the repeat") {
    val q: Harness.Query = (s, _) => s.range(1).toDF()
    val rows = Seq(Battery.Row("x1", q, "SELECT 1"), Battery.Row("x2", q, "SELECT 2"),
      Battery.Row("x1", q, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Battery.table(rows))
    assert(e.getMessage.contains("x1") && !e.getMessage.contains("x2"))
    assert(Battery.table(rows.take(2)).keys.toSeq == Seq("x1", "x2"))
  }

  test("oracle_sql.json escapes quotes, tabs and control characters") {
    val oracles = Map(
      "q1" -> "SELECT 'a\"b'\tAS x\nFROM t",
      "q\\2" -> "x\u0001y\r\u001f")
    val json = Verify.oracleJson(oracles)
    assert(!json.exists(_ < ' '))
    assert(Json.parse(json) == oracles)
  }

  test("the bench result line is one JSON object in run order") {
    val spark = TestSpark.spark
    val line = Bench.resultLine(Seq("a1_x" -> 1.5, "b\"2" -> 0.25),
      "/data/sf\t0.1", "/data/sf0.001", Map("MemAvailable" -> "42"),
      Bench.resolvedConfig(spark))
    assert(!line.contains('\n'))
    val rec = Json.parse(line).asInstanceOf[Map[String, Any]]
    assert(rec("value") == 1.75)
    assert(rec("queries").asInstanceOf[Map[String, Any]].keys.toSeq ==
      Seq("a1_x", "b\"2"))
    assert(rec("sf") == "/data/sf\t0.1")
    assert(rec("box") == Map(
      "mem_available_kb" -> 42L, "cached_kb" -> 0L, "dirty_kb" -> 0L))
    // the resolved config follows the existing keys, read from the session
    assert(rec.keys.toSeq == Seq("metric", "value", "unit", "queries", "sf",
      "runs", "agg", "warmup", "box", "cpus", "master", "shuffle_partitions", "aqe"))
    assert(rec("cpus") == spark.sparkContext.defaultParallelism.toLong)
    assert(rec("master") == spark.sparkContext.master)
    assert(rec("shuffle_partitions") ==
      spark.conf.get("spark.sql.shuffle.partitions").toLong)
    assert(rec("aqe") == spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
  }

  test("the spec session runs the mains' optimizer configuration") {
    val conf = TestSpark.spark.conf
    assert(conf.get("spark.sql.optimizer.excludedRules") == Harness.ExcludedRules)
    assert(Harness.ExcludedRules.contains("InferFiltersFromGenerate"))
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("a pin made inside Harness.guard is released after the body") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var held: DataFrame = null
    var during = 0
    Harness.guard(spark, "spec", "pin") {
      held = Checkpoints.pin(spark.range(10).toDF())
      during = (sc.getPersistentRDDs.keySet -- before).size
    }
    assert(during == 1)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(held != null)
  }

  test("a pin made inside StateOnce.once survives the guard around it") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var rows = 0L
    Harness.guard(spark, "spec", "once") {
      rows = StateOnce.once("spec.harness.pin", "spec") {
        Checkpoints.pin(spark.range(5).toDF())
      }.count()
    }
    val survived = sc.getPersistentRDDs.keySet -- before
    assert(rows == 5L && survived.size == 1)
    // the memoized frame still serves from its blocks
    val again = StateOnce.once[DataFrame](
      "spec.harness.pin", "spec")(fail("memoized value rebuilt"))
    assert(again.count() == 5L)
    Checkpoints.release(again)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
