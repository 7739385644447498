package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties the queries rely on —
  * predicate pushdown, column pruning, broadcast of small dimensions, and
  * bucketed co-located joins — must be visible in the executed plan, not
  * just assumed. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // finalize AQE so the executed plan is the real one
    df.queryExecution.executedPlan.toString
  }

  test("filters and projections reach the parquet scan") {
    val df = graft.queries.Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 40)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = executedPlan(df)
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThan(l_quantity"), plan)
    // pruned read schema: only the two referenced columns are fetched
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan)
  }

  test("small dimension joins broadcast (d03 star join)") {
    val plan = executedPlan(
      graft.queries.Relational.revenueByNation(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("broadcast-corpus brute-force top-k plans with no shuffle or join") {
    val e = graft.queries.Tables.embeddings(spark, sf)
    val plan = executedPlan(
      graft.llm.Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 3))
    // queries stream past the broadcast corpus: one scan, a generate, no
    // exchange/join/aggregate anywhere
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Aggregate"), plan)
    assert(plan.contains("broadcast_topk"), plan)
  }

  test("span-algebra derivation prunes to the referenced orders columns") {
    // spansFromOrders builds full nested span rows (structs, maps, event
    // arrays) from orders; a consumer touching only the edge columns must
    // see all of that pruned away down to a 2-column parquet read — the
    // property that makes declaring the derivation ONCE and letting
    // Catalyst specialize it per query safe at 100 TB
    val full = executedPlan(graft.queries.SpanAlgebra.spanEdges(spark, sf))
    // AdaptiveSparkPlan.toString appends the initial plan too — assert on
    // the final section only
    val plan = full.split("== Initial Plan ==").head
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>")
      || plan.contains("ReadSchema: struct<o_orderkey:bigint>"), plan)
    assert(!plan.contains("map_from"), plan) // attribute maps pruned out
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans <= 3, s"roots branch (null parent) should be pruned: $plan")
  }

  test("text kernels stay inside whole-stage codegen (i5/i6 curation scan)") {
    val docs = graft.queries.Tables.documents(spark, sf)
    val scored = docs.select(
      graft.llm.TextAnalysis.langId(col("text")).as("lang"),
      graft.llm.TextAnalysis.stopwordHits(col("text"),
        graft.llm.TextAnalysis.stopwordTable("en")).as("hits"),
      graft.llm.TextAnalysis.qualityScore(col("text")).as("q"))
    // fallback off: if the generated Java for the kernels does not
    // compile, this throws instead of silently degrading to interpreted
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val plan = executedPlan(scored)
      // the projection computing the kernels carries the codegen star —
      // with CodegenFallback expressions it would print an unstarred Project
      assert(plan.split("\n").exists(l =>
        l.contains("Project") && l.trim.startsWith("*")), plan)
      assert(scored.filter(col("lang") =!= "und").count() > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("session-8 scan kernels: codegen'd shuffle-free single-pass plans") {
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      // DSIR scoring: model broadcast by closure — one scan, no exchange,
      // no join, codegen'd projection
      val dsir = SparkEntry.queries("i6_dsir_weights")(spark, sf)
      val dsirPlan = executedPlan(dsir)
      assert(!dsirPlan.contains("Exchange") && !dsirPlan.contains("Join"),
        dsirPlan)
      assert(dsirPlan.split("\n").exists(l =>
        l.contains("Project") && l.trim.startsWith("*")), dsirPlan)
      // blocklist: Aho–Corasick expression in a starred projection
      val bl = SparkEntry.queries("i7_blocklist")(spark, sf)
      val blPlan = executedPlan(bl)
      assert(!blPlan.contains("Exchange"), blPlan)
      assert(blPlan.split("\n").exists(l =>
        l.contains("Project") && l.trim.startsWith("*")), blPlan)
      // lexical diversity: sorted-array neighbor scan, no explode/shuffle
      val lex = SparkEntry.queries("i5_lexical_diversity")(spark, sf)
      val lexPlan = executedPlan(lex)
      assert(!lexPlan.contains("Exchange") && !lexPlan.contains("Generate"),
        lexPlan)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("decontamination broadcasts the benchmark grams, corpus stays streamed") {
    val docs = graft.queries.Tables.documents(spark, sf)
    val flagged = graft.llm.Decontamination.flagContaminated(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 8)
    val plan = executedPlan(flagged)
    // the eval-set gram table rides a broadcast; the 100 TB corpus side
    // must never be the built side of anything
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("stratified cap shuffles only cap rows per stratum (WindowGroupLimit)") {
    val docs = graft.queries.Tables.documents(spark, sf)
    val capped = graft.llm.Sampling.stratifiedCap(
      docs, col("doc_id") % 4, col("text"), col("doc_id"), cap = 7)
    val plan = executedPlan(capped)
    // a bare rank window would sort every stratum in one partition; the
    // rank<=cap filter must push a PARTIAL group-limit below the exchange,
    // so at 100 TB each input partition ships at most cap rows per stratum
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.split("\n").exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")), plan)
  }

  test("pivot plans one aggregate pipeline with a pruned scan, no collect job") {
    val plan = executedPlan(
      graft.queries.Relational.pivotEventTypes(spark, sf))
    // explicit value list → pivotfirst aggregate, no distinct-values job
    assert(plan.contains("pivotfirst"), plan)
    assert(plan.contains("partial_"), plan) // map-side partial aggregation
    // scan fetches only the two referenced columns
    assert(plan.contains("ReadSchema: struct<user_id:bigint,event_type:string>"),
      plan)
  }

  test("session windows aggregate with partials below one exchange") {
    val plan = executedPlan(
      graft.queries.Relational.sessionWindows(spark, sf))
    assert(plan.contains("MergingSessions"), plan)
    assert(plan.contains("partial_"), plan) // partial agg before the shuffle
    // exactly one shuffle: the hash partitioning on user_id. The AQE string
    // prints the final plan followed by the initial plan — audit only the
    // final section so the same exchange isn't double-counted.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val shuffles = finalPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .map(_.replaceAll(".*plan_id=(\\d+).*", "$1")).toSet
    assert(shuffles.size == 1, plan)
  }

  test("bigram top-k plans as TakeOrderedAndProject, never a global sort") {
    val plan = executedPlan(
      SparkEntry.queries("i5_bigram_lm")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), plan) // no full-result sort operator
  }

  test("salient terms ship only top-1 per doc across the shuffle") {
    val plan = executedPlan(
      SparkEntry.queries("i5_salient_terms")(spark, sf))
    // partial WindowGroupLimit below the exchange (like stratifiedCap) and
    // a broadcast of the vocabulary-sized document-frequency side
    assert(plan.split("\n").exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("percentiles plan as a two-phase sort-free aggregate on a pruned scan") {
    val plan = executedPlan(
      graft.queries.Relational.percentiles(spark, sf))
    // exact quantiles WITHOUT a sort: partial ObjectHashAggregate per
    // partition, merged after one exchange
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_percentile"), plan)
    assert(!plan.contains("Sort ["), plan)
    assert(plan.contains(
      "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>"), plan)
  }

  test("interval concurrency runs the sweep in a single exchange") {
    val plan = executedPlan(
      graft.queries.Relational.intervalConcurrency(spark, sf))
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val shuffles = finalPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.size == 1, plan)
    assert(plan.contains("partial_max"), plan) // map-side max after window
  }

  test("partitioned writes prune partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    graft.queries.Tables.documents(spark, sf)
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    val df = spark.read.parquet(dir)
      .filter(col("source") === "src7")
      .select(col("doc_id"), col("n_chars"))
    val plan = executedPlan(df)
    // the source predicate must be a PartitionFilter (directory pruning,
    // no data read from other sources), not a post-scan Filter
    assert(plan.contains("PartitionFilters: [isnotnull(source"), plan)
    // and the scan must actually touch ONE partition directory: the
    // numFiles metric (inputFiles reports the unpruned relation)
    val scans = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.metrics("numFiles").value == 1, plan)
  }

  test("shipping priority broadcasts the segment dim and TakeOrders the limit") {
    val plan = executedPlan(
      graft.queries.Relational.shippingPriority(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // both date predicates reach their parquet scans
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
  }

  test("bucketed tables join without a shuffle") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-buckets")
    val li = graft.queries.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity"))
    val or = graft.queries.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"))
    li.write.mode("overwrite")
      .option("path", s"$warehouse/li_b")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_b")
    or.write.mode("overwrite")
      .option("path", s"$warehouse/or_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("or_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("or_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = executedPlan(joined)
      assert(plan.contains("SortMergeJoin"), plan)
      // co-located bucketed scans: no shuffle exchange anywhere in the plan
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS or_b")
    }
  }

  test("Q4 priority-exists pushes the order-date range to the orders scan") {
    val plan = executedPlan(
      graft.queries.TpchShapes.priorityExists(spark, sf))
    // both range bounds land in PushedFilters — at 100 TB the semi join
    // sees the 6-month slice, not the table
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
    // the EXISTS stays a semi join (never a dedup-then-inner rewrite)
    assert(plan.contains("LeftSemi"), plan)
  }

  test("Q21 aggregate and window passes share one orderkey partitioning") {
    val full = executedPlan(
      graft.queries.TpchShapes.soleLateSupplier(spark, sf))
    // the AQE string prints the final plan then "== Initial Plan ==" —
    // audit only the final one
    val plan = full.split("== Initial Plan ==")(0)
    // hash(orderkey) satisfies both the (orderkey, suppkey) aggregate and
    // the windows' partitionBy(orderkey): exactly two hash exchanges total
    // — the orderkey repartition and the final per-supplier count. Line-
    // anchored like PlanBudgetSpec's regex so a ReusedExchange's inline
    // child description is never counted as a real shuffle.
    val exchanges =
      "(?m)^[\\s:+\\-]*Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected ≤2 hash exchanges, got $exchanges\n$plan")
    // the final top-20 is TakeOrdered, never a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("basket pairs replay one exchange for the self-join (ReusedExchange)") {
    val full = executedPlan(graft.queries.Relational.basketPairs(spark, sf))
    val plan = full.split("== Initial Plan ==")(0)
    // the two join inputs are the same deduped scan: the planner must
    // materialize the basket exchange ONCE and replay it, not shuffle the
    // table twice
    assert(plan.contains("ReusedExchange"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("Q14 promo revenue broadcasts the part dimension") {
    val plan = executedPlan(graft.queries.TpchShapes.promoRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("Q6 forecast revenue pushes every predicate to the lineitem scan") {
    // the scan's PushedFilters list is long enough to hit the default
    // 100-char metadata truncation — widen it for this assertion
    val prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    val plan =
      try executedPlan(graft.queries.TpchShapes.forecastRevenue(spark, sf))
      finally spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    // all three predicate families reach PushedFilters — the 100 TB cost
    // is one filtered read, never a post-scan filter of the whole table
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_discount"), plan)
    assert(plan.contains("LessThan(l_quantity"), plan)
    // no join, no window — a pure scan-aggregate
    assert(!plan.contains("Join"), plan)
  }

  test("Q15 top supplier broadcasts the max row and the supplier dim") {
    val full = executedPlan(graft.queries.TpchShapes.topSupplier(spark, sf))
    val plan = full.split("== Initial Plan ==")(0)
    // the revenue view shuffles once on suppkey; the global max comes back
    // as a broadcast (nested-loop on a one-row build side), and supplier
    // joins broadcast — no sort-merge join anywhere
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
