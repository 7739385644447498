package graft

/** Plan-audit utility: prints the executed physical plan of each named
  * `SparkEntry` query (every query `SPARK_GRAFT_QUERIES` selects when no
  * args), for checking pushdown, partial aggregation, broadcast choices,
  * and codegen coverage. The session is the [[Harness]] session Verify
  * and Bench run, so the printed plan IS the plan they execute.
  *
  * Caveat: "printing the plan" still CONSTRUCTS each DataFrame, and a few
  * queries (the connected-components / span-walk ones) run eager
  * `localCheckpoint` jobs during construction — auditing those costs
  * their fixpoint runtime. `SPARK_GRAFT_SF_DIR` overrides the fixture dir.
  *
  *   sbt "runMain graft.ExplainMain i5_salient_terms d10_session_windows"
  *
  * When `SPARK_GRAFT_EXPLAIN_DIR` is set, each query's
  * `explain("formatted")` output is ALSO written to `<dir>/<name>.txt`
  * (the optimization-round plan-evidence format: numbered operators,
  * PushedFilters/ReadSchema, join strategy + build side, exchange
  * partitioning).
  */
object ExplainMain {
  def main(args: Array[String]): Unit = Harness.withSession { spark =>
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    outDir.foreach(p => new java.io.File(p).mkdirs())
    val names = if (args.nonEmpty) args.toSeq else Harness.queries().map(_._1)
    for (n <- names) {
      println(s"===== $n")
      SparkEntry.queries.get(n) match {
        case None => println(s"(unknown query: $n)")
        case Some(fn) => Harness.guard(spark, "explain", n) {
          val qe = fn(spark, d).queryExecution
          println(qe.executedPlan.toString
            .linesIterator.map(_.take(160)).mkString("\n"))
          outDir.foreach { p =>
            val w = new java.io.PrintWriter(s"$p/$n.txt", "UTF-8")
            try w.write(qe.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            finally w.close()
          }
        }
      }
    }
  }
}
