package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Json

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
}
