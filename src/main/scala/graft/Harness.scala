package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The harness every main (and the spec session) runs through: one
  * session configuration, one query selection, one per-query failure
  * guard and one teardown.
  *
  * Environment: `SPARK_GRAFT_CPUS` (worker threads and shuffle
  * partitions, default 4), `SPARK_MASTER` (overrides the local master; a
  * deployment setting), `SPARK_GRAFT_QUERIES` (comma-separated name
  * substrings; unset = every query).
  */
object Harness {

  type Query = (SparkSession, String) => DataFrame

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Optimizer rules the session configuration turns off.
    * `InferFiltersFromGenerate` adds `size(...) > 0` guards under every
    * explode, which swung generate-heavy rows by more than 5×. */
  val ExcludedRules = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Entries of Spark's generated-class cache (a static conf, default
    * 100). Janino reuses a class only while its source is still cached;
    * one battery pass at sf0.01 leaves 2,355 distinct sources in the cache
    * (2,509 after three), so at 100 entries every warm pass recompiled
    * every class. The headroom covers the sources later passes add. */
  val CodegenCacheEntries = 4000

  /** The session configuration every main runs, as a builder so a caller
    * can add settings of its own before [[session]]. */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.optimizer.excludedRules", ExcludedRules)
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
    .config("spark.ui.enabled", "false")

  def session(b: SparkSession.Builder = builder()): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` on a [[session]], then releases the session-scoped
    * broadcasts and stops the session. */
  def withSession[A](body: SparkSession => A): A = {
    val spark = session()
    try body(spark)
    finally {
      graft.llm.Similarity.releaseBroadcasts()
      spark.stop()
    }
  }

  /** The battery rows' queries (`SparkEntry.rows`) sorted by name
    * (execution and output order stay stable run to run), narrowed to the
    * names containing one of the comma-separated substrings in `filter`. */
  def queries(
      filter: Option[String] = sys.env.get("SPARK_GRAFT_QUERIES")): Seq[(String, Query)] = {
    val parts = filter.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.rows.values.toSeq.sortBy(_.name)
      .collect { case r if parts.forall(_.exists(r.name.contains)) => r.name -> r.run }
  }

  /** Runs one query's `body` — its build and its action — inside a
    * [[graft.operators.Checkpoints.scope]], so the query's pins are
    * released once the action is done. A throw is reported on stderr and
    * the caller moves on to the next query — unless it stopped the
    * SparkContext (an executor OOM stops the whole local context): every
    * later query would then fail in ~20 ms and record garbage, so the
    * process exits 2. */
  def guard(spark: SparkSession, tag: String, name: String)(body: => Unit): Unit =
    try graft.operators.Checkpoints.scope(body) catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: $e")
      if (spark.sparkContext.isStopped) {
        System.err.println(s"[$tag] SparkContext died running $name — aborting")
        sys.exit(2)
      }
    }
}
