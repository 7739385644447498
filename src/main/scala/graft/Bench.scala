package graft
import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import graft.model.Json
object Bench {
  /** Timing action: write to the no-op sink, which computes EVERY output
    * column. `count()` (used through round 8's opening runs) lets Catalyst
    * prune any column the count doesn't need — a pure-projection query
    * (e.g. the span-cut surgery behind a row-preserving left join)
    * collapsed to a parquet row count and timed 15× too fast. The noop
    * write is the same full-evaluation contract the Verify parquet dump
    * exercises, minus the sink I/O. */
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = Harness.withSession { spark =>
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Session warm-up: run the whole suite once, untimed, at the smallest
    // scale factor AVAILABLE NEXT TO the benched one (falling back to the
    // benched dir itself — never a trivial job that warms nothing). This
    // JIT-compiles the Catalyst analyzer/optimizer hot paths and fills the
    // Janino generated-code cache with each query's stages, so the timed
    // runs measure execution, not first-call compiler latency — the same
    // prepared-statement hygiene a long-running service gets for free.
    // The warm-up ignores SPARK_GRAFT_QUERIES, so a filtered run sees the
    // same compiled-code state as a full run.
    spark.range(1000).selectExpr("sum(id)").collect()
    val warmDir = {
      val parent = new java.io.File(sfDir).getParentFile
      val siblings = Option(if (parent == null) null else parent.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("sf"))
        .flatMap(f => f.getName.stripPrefix("sf").toDoubleOption.map(_ -> f))
      if (siblings.nonEmpty) siblings.minBy(_._1)._2.getAbsolutePath else sfDir
    }
    Harness.queries(None).foreach { case (name, fn) =>
      Harness.guard(spark, "bench", name)(exec(fn(spark, warmDir)))
    }
    // Median of 3 full passes per query: single-run numbers at this scale
    // swing >10x on machine noise (page cache, background load), which
    // burns the round-over-round comparison signal. Full passes (not 3
    // back-to-back repeats of one query) so each timing sees steady-state
    // cache pressure, and the per-query median de-noises independently.
    // A throwing query records its failure time (a round-over-round diff
    // flags the collapse).
    val names = Harness.queries()
    val passes = (1 to 3).map { _ =>
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        Harness.guard(spark, "bench", name)(exec(fn(spark, sfDir)))
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val results = names.map { case (name, _) =>
      name -> passes.map(_(name)).sorted.apply(1) // median of 3
    }
    val meminfo = scala.util.Try(
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .flatMap { l => l.split("\\s+") match {
          case Array(k, v, _*) => Some(k.stripSuffix(":") -> v)
          case _ => None
        }}.toMap).getOrElse(Map.empty[String, String])
    println(resultLine(results, sfDir, warmDir, meminfo))
  }

  /** The one-line JSON result record. Key order is fixed and `queries`
    * keeps the alphabetical run order, for stable run-to-run diffs. Box
    * state goes into the record because it has MOVED benchmarks: the
    * round-12 closing bench ran with ~10 GB of scale-audit shards resident
    * in page cache, drifting the common-query median 1.16× with no code
    * change. A reader comparing two BENCH_r{N}.json files can see whether
    * the cache state was comparable before blaming the code. */
  private[graft] def resultLine(results: Seq[(String, Double)], sfDir: String,
      warmDir: String, meminfo: Map[String, String]): String = {
    def kb(k: String): Long = meminfo.get(k).flatMap(_.toLongOption).getOrElse(0L)
    Json.render(ListMap(
      "metric" -> "total",
      "value" -> results.map(_._2).sum,
      "unit" -> "sec",
      "queries" -> ListMap(results: _*),
      "sf" -> sfDir,
      "runs" -> 3,
      "agg" -> "median",
      "warmup" -> warmDir,
      "box" -> ListMap(
        "mem_available_kb" -> kb("MemAvailable"),
        "cached_kb" -> kb("Cached"),
        "dirty_kb" -> kb("Dirty"))))
  }
}
