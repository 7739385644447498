package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.parser.SpanParser
import graft.spans.SpansOps._

/** Oracle coverage for the span algebra (SURVEY §2 Group A/B) — the
  * engine's core domain previously verified only by ScalaTest.
  *
  * DuckDB cannot read the hand-built spec fixtures, so the span collection
  * is DERIVED deterministically from the driver's own `orders` table
  * (customer → trace root, order → `execute-task` span, order status F →
  * exception event, adjacent orders of a customer → dependency pairs in
  * BOTH the attribute and link form). Every query below runs the real
  * Group A/B operator over that derived collection, and the oracle
  * recomputes the expected output straight from `orders` — the span
  * semantics (nested-path filters, event explosion, attr-union conflict
  * contract, B1≡B2) get a hash-compared gate instead of spec-only trust.
  *
  * Reference semantics: `composable_logs/opentelemetry_helpers.py:373-381,
  * 453-491`, `composable_logs/opentelemetry_task_span_parser.py:32-60`.
  */
object SpanAlgebra {

  private val emptyEvents =
    "array<struct<name:string,timestamp:string,attributes:map<string,string>>>"
  private val emptyLinks = "array<struct<context:struct<trace_id:string," +
    "span_id:string,trace_state:string>,attributes:map<string,string>>>"

  private def ctx(trace: Column, sid: Column) =
    struct(trace.as("trace_id"), sid.as("span_id"), lit("[]").as("trace_state"))

  private def okStatus =
    struct(lit("OK").as("status_code"), lit(null).cast("string").as("description"))

  /** JSON-rendered (quoted) string value, the AttrCodec encoding — the
    * derived ids/priorities contain no characters needing escape. */
  private def q(c: Column): Column = concat(lit("\""), c, lit("\""))

  private val spanCols = Seq("name", "context", "parent_id", "kind",
    "start_time", "end_time", "status", "attributes", "events", "links",
    "resource")

  /** The derived span collection: one trace per customer. `customerFilter`
    * (a predicate over `orders` columns) scopes the derivation to a subset
    * of customers BEFORE the lag window — the window partitions by
    * customer, so pre-filtering commutes with it and yields exactly the
    * traces of the retained customers. The boolean gates use this to walk
    * a handful of traces (the reference applies these operators to one
    * workflow's spans, not a whole archive) instead of deriving and
    * re-deriving the full collection for every except/count job. */
  def spansFromOrders(s: SparkSession, d: String,
      customerFilter: Option[Column] = None): DataFrame =
    spansFrom(ordersBase(s, d, customerFilter))

  /** The per-order projection every span branch derives from. The span
    * union references it FOUR times (roots/tasks/leaves/deps), so a caller
    * that runs several jobs over the derived spans should persist THIS
    * (7 narrow columns) rather than the wide span rows — one orders scan
    * instead of four per job, without caching struct/array/map columns. */
  private def ordersBase(s: SparkSession, d: String,
      customerFilter: Option[Column]): DataFrame =
    customerFilter.foldLeft(Tables.orders(s, d))(_ filter _)
      .withColumn("prev",
        lag(col("o_orderkey"), 1).over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))))
      .select(
        concat(lit("c"), col("o_custkey").cast("string")).as("trace"),
        concat(lit("o"), col("o_orderkey").cast("string")).as("sid"),
        when(col("prev").isNotNull,
          concat(lit("o"), col("prev").cast("string"))).as("prev_sid"),
        col("o_orderkey").as("okey"),
        col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").cast("string").as("t"))

  private[graft] def spansFrom(o: DataFrame): DataFrame = {
    // customer roots (one per trace)
    val roots = o.select(col("trace")).distinct()
      .select(
        lit("dag-top-span").as("name"),
        ctx(col("trace"), col("trace")).as("context"),
        lit(null).cast("string").as("parent_id"),
        lit("SpanKind.INTERNAL").as("kind"),
        lit("2020-01-01 00:00:00").as("start_time"),
        lit("2030-01-01 00:00:00").as("end_time"),
        okStatus.as("status"),
        map(lit("workflow.env"), lit("\"prod\"")).as("attributes"),
        array().cast(emptyEvents).as("events"),
        array().cast(emptyLinks).as("links"),
        typedLit(Map.empty[String, String]).as("resource"))

    // execute-task spans: exception event iff status F; link-form
    // dependency to the customer's previous order (B2)
    val tasks = o.select(
      lit("execute-task").as("name"),
      ctx(col("trace"), col("sid")).as("context"),
      col("trace").as("parent_id"),
      lit("SpanKind.INTERNAL").as("kind"),
      col("t").as("start_time"),
      col("t").as("end_time"),
      okStatus.as("status"),
      map(
        lit("task.id"), q(concat(lit("ord-"), col("okey").cast("string"))),
        lit("task.priority"), q(col("priority")),
        lit("workflow.env"), lit("\"prod\"")).as("attributes"),
      when(col("status") === "F",
        array(struct(
          lit("exception").as("name"),
          col("t").as("timestamp"),
          map(
            lit("exception.type"), lit("\"OrderFailed\""),
            lit("exception.message"),
            q(concat(lit("order-"), col("okey").cast("string"), lit(" failed"))))
            .as("attributes"))))
        .otherwise(array().cast(emptyEvents)).as("events"),
      when(col("prev_sid").isNotNull,
        array(struct(
          ctx(col("trace"), col("prev_sid")).as("context"),
          map(lit("type"), lit("\"task-dependency\"")).as("attributes"))))
        .otherwise(array().cast(emptyLinks)).as("links"),
      typedLit(Map.empty[String, String]).as("resource"))

    // leaf payload spans under each task: named-value / artefact / other.
    // named-value and artefact leaves carry the reference's full C1 payload
    // contract (name/type/encoding/content_encoded — the exact key set
    // parseSpans REQUIREs, `opentelemetry_task_span_parser.py:189-228`) so
    // the real B4-B6 parse path can run over the derived collection;
    // call-function leaves keep the bare name attr.
    val leaves = o.select(
      when(col("okey") % 3 === 0, "named-value")
        .when(col("okey") % 3 === 1, "artefact")
        .otherwise("call-function").as("name"),
      ctx(col("trace"), concat(lit("v"), col("okey").cast("string"))).as("context"),
      col("sid").as("parent_id"),
      lit("SpanKind.INTERNAL").as("kind"),
      col("t").as("start_time"),
      col("t").as("end_time"),
      okStatus.as("status"),
      when(col("okey") % 3 === 2,
        map(lit("name"), q(concat(lit("m"), col("okey").cast("string")))))
        .otherwise(map(
          lit("name"), q(concat(lit("m"), col("okey").cast("string"))),
          lit("type"), lit("\"utf-8\""),
          lit("encoding"), lit("\"utf-8\""),
          lit("content_encoded"), q(col("priority"))))
        .as("attributes"),
      array().cast(emptyEvents).as("events"),
      array().cast(emptyLinks).as("links"),
      typedLit(Map.empty[String, String]).as("resource"))

    // attribute-form dependency spans (B1) mirroring the links above
    val deps = o.filter(col("prev_sid").isNotNull).select(
      lit("task-dependency").as("name"),
      ctx(col("trace"), concat(lit("d"), col("okey").cast("string"))).as("context"),
      col("sid").as("parent_id"),
      lit("SpanKind.INTERNAL").as("kind"),
      col("t").as("start_time"),
      col("t").as("end_time"),
      okStatus.as("status"),
      map(
        lit("from_task_span_id"), q(col("prev_sid")),
        lit("to_task_span_id"), q(col("sid"))).as("attributes"),
      array().cast(emptyEvents).as("events"),
      array().cast(emptyLinks).as("links"),
      typedLit(Map.empty[String, String]).as("resource"))

    roots.unionByName(tasks).unionByName(leaves).unionByName(deps)
      .select(spanCols.map(col): _*)
  }

  /** A1 — nested-path filters: a struct-path filter (`name`) and an
    * attribute-map-path filter (JSON-rendered compare) over the same
    * collection. */
  def nestedFilter(s: SparkSession, d: String): DataFrame = {
    val spans = spansFromOrders(s, d)
    spans.filterNested(Seq("name"), "named-value")
      .select(col("context.span_id").as("span_id"))
      .unionAll(
        spans.filterNested(Seq("name"), "execute-task")
          .filterNested(Seq("attributes", "task.priority"), "1-URGENT")
          .select(col("context.span_id").as("span_id")))
  }

  private val nestedFilterSql =
    """SELECT 'v' || CAST(o_orderkey AS VARCHAR) AS span_id
      |FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS span_id
      |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin

  /** A4 — per-trace attribute union with the conflict contract as data:
    * `n_vals > 1` is exactly the condition the driver-side
    * `attributesUnion` raises on. */
  def attrUnionConflicts(s: SparkSession, d: String): DataFrame =
    spansFromOrders(s, d)
      .attributesUnionByGroup(col("context.trace_id"), Some(Set("task.")))
      .select(col("grp").as("trace"), col("k"), col("n_vals"), col("v_min"))

  private val attrUnionConflictsSql =
    """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS trace, k,
      | COUNT(DISTINCT v) AS n_vals, MIN(v) AS v_min
      |FROM (
      | SELECT o_custkey, 'task.id' AS k,
      |  '"ord-' || CAST(o_orderkey AS VARCHAR) || '"' AS v FROM orders
      | UNION ALL
      | SELECT o_custkey, 'task.priority' AS k,
      |  '"' || o_orderpriority || '"' AS v FROM orders)
      |GROUP BY 1, 2""".stripMargin

  /** A5 — exception-event harvest: explode `events`, keep `exception`s. */
  def exceptionHarvest(s: SparkSession, d: String): DataFrame =
    spansFromOrders(s, d).exceptionEvents()
      .select(col("span_id"), col("timestamp"),
        col("attributes").getItem("exception.message").as("msg"))

  private val exceptionHarvestSql =
    """SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS span_id,
      | CAST(o_orderdate AS VARCHAR) AS timestamp,
      | '"order-' || CAST(o_orderkey AS VARCHAR) || ' failed"' AS msg
      |FROM orders WHERE o_orderstatus = 'F'""".stripMargin

  /** A6 — (parent, child) edge extraction over the derived collection. */
  def spanEdges(s: SparkSession, d: String): DataFrame =
    spansFromOrders(s, d).spanEdges()

  private val spanEdgesSql =
    """SELECT 'c' || CAST(o_custkey AS VARCHAR) AS parent,
      | 'o' || CAST(o_orderkey AS VARCHAR) AS child
      |FROM orders
      |UNION ALL
      |SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS parent,
      | 'v' || CAST(o_orderkey AS VARCHAR) AS child
      |FROM orders
      |UNION ALL
      |SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS parent,
      | 'd' || CAST(o_orderkey AS VARCHAR) AS child
      |FROM (
      | SELECT o_orderkey,
      |  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
      | FROM orders)
      |WHERE prev IS NOT NULL""".stripMargin

  /** B1≡B2 — the attribute-form and link-form dependency extractions must
    * agree (the reference asserts this in its own tests); the derived
    * collection encodes the same pairs both ways, so the symmetric
    * difference is pinned at 0 and the pair count is recomputed by the
    * oracle. The sets are driver-sized by the reference's contract. */
  def depFormsAgree(s: SparkSession, d: String): DataFrame = {
    // NOT cached (round-14 measured both ways): persist won a filtered
    // re-bench (2.84 -> 1.91 s — the two extraction walks are sequential
    // actions) but LOST the full-battery bench (-> 5.04 s, 1.77×) where
    // the cache competes with every other query's storage; checkpoint
    // lost everywhere. The double derivation stands.
    val spans = spansFromOrders(s, d)
    val b1 = SpanParser.extractTaskDependencies(spans)
    val b2 = SpanParser.extractTaskDependenciesFromLinks(spans)
    val spark = s
    import spark.implicits._
    Seq((b1.size.toLong, (b1 diff b2).size.toLong, (b2 diff b1).size.toLong))
      .toDF("n_deps", "n_only_attr", "n_only_link")
  }

  private val depFormsAgreeSql =
    """SELECT COUNT(*) AS n_deps, CAST(0 AS BIGINT) AS n_only_attr,
      | CAST(0 AS BIGINT) AS n_only_link
      |FROM (
      | SELECT lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
      | FROM orders)
      |WHERE prev IS NOT NULL""".stripMargin

  /** A2 — global sort by parsed start time (span_id tie-break). The driver
    * compare sorts rows before hashing, so the ORDER itself is materialized
    * as data: `zipWithIndex` over the sorted partitions assigns ranks
    * without collapsing to one partition (a global `row_number` window
    * would), and the oracle recomputes the rank with a window over the
    * same (timestamp, span_id) key. */
  def sortRanks(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // Two caches, both strictly work-saving at any scale:
    //  - persist the NARROW per-order base: the span union references it 4×,
    //    so one scan + one lag-window shuffle instead of four of each;
    //  - localCheckpoint the sorted 1-column projection: zipWithIndex needs
    //    the sorted RDD twice (partition-size job + the zip itself) and the
    //    consumer's action reads it a third time — the global sort is the
    //    irreducible cost and now runs once. Checkpoint preserves partition
    //    order, so the ranks are unchanged.
    // localCheckpoint is EAGER, so the base cache is already consumed (and
    // released) by the time this returns.
    val base = ordersBase(s, d, None).persist()
    try {
      // Rank = global position in the range-partitioned sort, computed
      // WITHOUT leaving Dataset land (round-15; the old `.rdd.zipWithIndex`
      // deserialized every row to external objects and re-entered through
      // an RDD→DF conversion): monotonically_increasing_id() on the pinned
      // sorted frame encodes (partition id << 33) + a consecutive
      // per-partition counter — its documented implementation — so
      // rank = (rows in earlier partitions) + in-partition position + 1.
      // The per-partition counts are a numPartitions-row aggregate, their
      // running sum a single-partition window over that tiny frame, and
      // the re-attach a broadcast join: same two extra jobs zipWithIndex
      // ran (partition-size pass + zip), minus the row round-trip.
      // (A partition over 2^33 rows would overflow the counter field; the
      // range sort bounds partitions far below that at any target scale.)
      val sorted = spansFrom(base).sortByStartTime()
        .select(col("context.span_id").as("span_id"))
        .withColumn("mid", monotonically_increasing_id())
        .localCheckpoint()
      // per-partition counts collected to the driver: ≤ numPartitions
      // rows, the same budget-bounded collect the Closure/KCore local
      // paths use — exactly the job zipWithIndex ran internally, minus
      // its per-row external-Row conversion on the main pass
      val cnts = sorted
        .groupBy(shiftright(col("mid"), 33).as("pid"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var acc = 0L
      val offs: Map[Long, Long] = cnts.map { case (pid, c) =>
        val o = acc; acc += c; pid -> o
      }.toMap
      val pid = shiftright(col("mid"), 33)
      if (offs.isEmpty) sorted.select(lit(0L).as("rank"), col("span_id")).limit(0)
      else sorted.select(
        (element_at(typedlit(offs), pid)
          + (col("mid") - shiftleft(pid, 33)) + 1).as("rank"),
        col("span_id"))
    } finally base.unpersist(blocking = false)
  }

  private val sortRanksSql =
    """SELECT row_number() OVER (ORDER BY CAST(t AS TIMESTAMP), span_id) AS rank,
      | span_id
      |FROM (
      | SELECT '2020-01-01 00:00:00' AS t,
      |  'c' || CAST(o_custkey AS VARCHAR) AS span_id
      | FROM (SELECT DISTINCT o_custkey FROM orders)
      | UNION ALL
      | SELECT CAST(o_orderdate AS VARCHAR),
      |  'o' || CAST(o_orderkey AS VARCHAR) FROM orders
      | UNION ALL
      | SELECT CAST(o_orderdate AS VARCHAR),
      |  'v' || CAST(o_orderkey AS VARCHAR) FROM orders
      | UNION ALL
      | SELECT CAST(o_orderdate AS VARCHAR),
      |  'd' || CAST(o_orderkey AS VARCHAR)
      | FROM (
      |  SELECT o_orderkey, o_orderdate,
      |   lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
      |  FROM orders)
      | WHERE prev IS NOT NULL)""".stripMargin

  /** A3 — collection length plus membership through the real
    * `containsSpanId` operator (present task span / absent id); the
    * membership target is derived from `orders` so the oracle can name it
    * without seeing the span collection. */
  def lenMembership(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // three eager actions; each recomputes a column-pruned slice of the
    // derivation (count reads no columns, the probes only span_id), which
    // measures cheaper than materializing the wide span rows once
    val spans = spansFromOrders(s, d)
    val minKey = Tables.orders(s, d)
      .agg(min(col("o_orderkey"))).head().get(0).toString
    Seq((
      spans.count(),
      spans.containsSpanId(s"o$minKey"),
      spans.containsSpanId("no-such-span")))
      .toDF("n_spans", "has_min_task", "has_missing")
  }

  private val lenMembershipSql =
    """SELECT
      | (SELECT COUNT(DISTINCT o_custkey) FROM orders)
      |  + 2 * (SELECT COUNT(*) FROM orders)
      |  + (SELECT COUNT(*) FROM (
      |      SELECT lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
      |      FROM orders) WHERE prev IS NOT NULL) AS n_spans,
      | true AS has_min_task,
      | false AS has_missing""".stripMargin

  /** A8 — `contains_path` over the derived hierarchy: customer root →
    * its first order's task span → that task's leaf payload span is a real
    * parent chain; the reversed walk must be rejected. The oracle pins the
    * expected booleans (the chain holds for EVERY customer by
    * construction, so a broken edge check flips the Spark side). */
  def pathContainment(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // the reference checks paths within ONE workflow's spans — scope the
    // derivation to the chosen customer's trace, so the walks touch a
    // handful of spans instead of re-deriving the whole archive. The
    // anchor row is a min(struct) aggregate (partial-agg, no global sort —
    // orderBy().head() sorted the whole table for one row).
    val first = Tables.orders(s, d)
      .agg(min(struct(col("o_custkey"), col("o_orderkey"))).as("m"))
      .select(col("m.o_custkey"), col("m.o_orderkey")).head()
    val (cust, okey) = (first.get(0).toString, first.get(1).toString)
    // persist the NARROW per-order base (one customer, ~handful of rows):
    // the closure walk runs several jobs over the derived spans, each of
    // which would otherwise rescan the orders parquet 4× (union branches)
    val base = gateBase(s, d, Some(col("o_custkey") === first.get(0)))
    try {
      val spans = spansFrom(base)
      val (root, task, leaf) = (s"c$cust", s"o$okey", s"v$okey")
      // both walks in ONE containsPaths pass: one edge scan + one closure
      // instead of two sequential chains of driver-blocking jobs
      val Seq(pathOk, reversedOk) = spans.containsPaths(Seq(
        Seq(root, task, leaf),
        Seq(leaf, task, root)))
      Seq((pathOk, reversedOk)).toDF("path_ok", "reversed_ok")
    } finally base.unpersist(blocking = false)
  }

  private val pathContainmentSql =
    """SELECT true AS path_ok, false AS reversed_ok"""

  /** B3 at scale — the distributed `taskRunsDF` parser path over the
    * derived collection: per-task exception counts (via the ownership
    * join), success flags, and durations, all recomputed by the oracle
    * straight from `orders`. */
  def taskRuns(s: SparkSession, d: String): DataFrame =
    // NOT pinned (round-14 measured both ways: localCheckpoint 2.04×
    // slower — stats loss degrades the ownership join; persist 1.57×
    // slower — cache write + racy population inside ONE action beats the
    // doubly-derived union only when the consumers are sequential
    // actions, which b1b2 is and this is not)
    SpanParser.taskRunsDF(spansFromOrders(s, d))
      .select(col("task_span_id"), col("task_id"), col("n_exceptions"),
        col("is_success"), col("duration_s"))

  private val taskRunsSql =
    """SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS task_span_id,
      | 'ord-' || CAST(o_orderkey AS VARCHAR) AS task_id,
      | CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS n_exceptions,
      | o_orderstatus <> 'F' AS is_success,
      | CAST(0.0 AS DOUBLE) AS duration_s
      |FROM orders""".stripMargin

  /** A10 — graph equality on (edges, node set): the derived collection
    * must equal a row-permuted projection of itself and must NOT equal the
    * collection with the dependency spans dropped. A broken symmetric
    * except (or an order-sensitive compare) flips either boolean. */
  /** Scoped derivation with a degenerate-scope guard: `eq_truncated=false`
    * REQUIRES ≥1 dependency span in scope (a customer with ≥2 orders), and
    * a tiny fixture can miss a 1-in-50 customer sample entirely — in that
    * case fall back to the FULL derivation instead of silently flipping the
    * gate. Exposed for the regression test. */
  /** The scoped orders base, falling back to the UNscoped base when the
    * scope holds no dependency edge (no customer with ≥2 orders — the
    * `prev_sid IS NOT NULL` probe is the direct, pre-derivation form of
    * "≥1 task-dependency span"). The probe runs over the already-persisted
    * base, so the guard costs one tiny cached job. */
  private[graft] def baseWithDepsOrFull(
      s: SparkSession, d: String, pred: Column): DataFrame = {
    val scoped = gateBase(s, d, Some(pred))
    val hasDeps = scoped.filter(col("prev_sid").isNotNull).limit(1).count() > 0
    if (hasDeps) scoped
    else {
      scoped.unpersist(blocking = false)
      gateBase(s, d, None)
    }
  }

  /** Persisted single-partition orders base for the BOOLEAN gate queries.
    * The scoped sample is driver-gate-sized by design (one customer / a
    * 1-in-50 slice), but a 32-partition cache turns every downstream union
    * branch into 32+ tasks and each gate job into hundreds of ~5 ms tasks —
    * the gates' latency is task count, not bytes. One cached partition
    * makes each equality/walk job a handful of tasks. NOT for data-path
    * queries, which keep natural partitioning. */
  private def gateBase(s: SparkSession, d: String,
      pred: Option[Column]): DataFrame =
    ordersBase(s, d, pred).coalesce(1).persist()

  /** Visible for the degenerate-scope regression test. */
  private[graft] def spansWithDepsOrFull(
      s: SparkSession, d: String, pred: Column): DataFrame =
    spansFrom(baseWithDepsOrFull(s, d, pred))

  /** Span-id view satisfying the summary model's otel id contract
    * (`TaskRunSummary` requires `0x`-prefixed span ids, mirroring the
    * reference's `Span` ids): the derived collection uses readable
    * oracle-friendly ids, so the B4/B6 queries — which run the REAL
    * [[SpanParser.parseSpans]] assembly — prefix them on the way in.
    * Parent/child ids are rewritten consistently, so ownership tagging and
    * the parse are unaffected; task ids (`ord-N`) carry the oracle link. */
  private def with0x(spans: DataFrame): DataFrame = spans
    .withColumn("context", struct(
      col("context.trace_id").as("trace_id"),
      concat(lit("0x"), col("context.span_id")).as("span_id"),
      col("context.trace_state").as("trace_state")))
    .withColumn("parent_id",
      when(col("parent_id").isNotNull, concat(lit("0x"), col("parent_id"))))

  /** B4 — the full workflow assembly over the derived collection: one row
    * per assembled task run with its timing, plus the workflow-level
    * min/max timing and the synthetic-top-span condition (no
    * `workflow.workflow_run_id` attribute anywhere ⇒ synthetic id,
    * reference `opentelemetry_task_span_parser.py:413-445`). The workflow
    * start is DATA-dependent (order dates sort lexicographically before the
    * root's constant 2020 start); the end is the root's constant 2030 cap.
    * The 1-in-20 customer scope keeps the driver-sized summary (the
    * reference's whole output is a driver object by contract) bounded at
    * bench sf.
    *
    * `coalesce` before the parse: the parse is one collect, and without it
    * that job would fan out hundreds of near-empty tasks. */
  def workflowTiming(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val summary = SpanParser.parseSpans(
      with0x(spansFromOrders(s, d, Some(col("o_custkey") % 20 === 0)))
        .coalesce(8))
    val synthetic = summary.spanId.startsWith("NO-TOP-SPAN--TEMP")
    summary.taskRuns.map(tr => (
        tr.taskId,
        tr.timing.startTimeIso8601,
        tr.timing.endTimeIso8601,
        summary.timing.startTimeIso8601,
        summary.timing.endTimeIso8601,
        synthetic))
      .toDF("task_id", "task_start", "task_end",
        "wf_start", "wf_end", "top_synthetic")
  }

  private val workflowTimingSql =
    """SELECT 'ord-' || CAST(o_orderkey AS VARCHAR) AS task_id,
      | CAST(o_orderdate AS VARCHAR) AS task_start,
      | CAST(o_orderdate AS VARCHAR) AS task_end,
      | (SELECT MIN(CAST(o_orderdate AS VARCHAR)) FROM orders
      |   WHERE o_custkey % 20 = 0) AS wf_start,
      | '2030-01-01 00:00:00' AS wf_end,
      | true AS top_synthetic
      |FROM orders WHERE o_custkey % 20 = 0""".stripMargin

  /** B6 — duplicate named-value rejection: the clean parse of one
    * customer's trace decodes every named-value leaf; re-logging one of
    * them (same `name`, distinct span) must abort the parse with the
    * reference's exact message (`opentelemetry_task_span_parser.py:189-228`
    * — "Named value X has been logged multiple times."). The oracle
    * recomputes the clean count and pins both rejection booleans. */
  def dupReject(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // the first named-value-bearing order (okey % 3 == 0) names the scoped
    // customer and the leaf to duplicate
    val first = Tables.orders(s, d)
      .filter(col("o_orderkey") % 3 === 0)
      .agg(min(struct(col("o_orderkey"), col("o_custkey"))).as("m"))
      .select(col("m.o_orderkey"), col("m.o_custkey")).head()
    val (okey, cust) = (first.get(0), first.get(1))
    // one customer's trace, one checkpointed partition: the two parses
    // and the duplicate's filter below scan it instead of re-running the
    // derivation (4-branch union × id-rewrite) each
    val spans = with0x(spansFromOrders(s, d,
      Some(col("o_custkey") === cust))).coalesce(1).localCheckpoint()
    val clean = SpanParser.parseSpans(spans)
    val nClean = clean.taskRuns.map(_.loggedValues.size).sum.toLong
    // inject the duplicate: same task, same logged name, fresh span id
    val dup = spans
      .filter(col("name") === "named-value" &&
        col("context.span_id") === s"0xv$okey")
      .withColumn("context", struct(
        col("context.trace_id").as("trace_id"),
        concat(col("context.span_id"), lit("dup")).as("span_id"),
        col("context.trace_state").as("trace_state")))
    val caught =
      try { SpanParser.parseSpans(spans.unionByName(dup)); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    val expected = s"Named value m$okey has been logged multiple times."
    Seq((nClean, caught.isDefined, caught.contains(expected)))
      .toDF("n_clean_values", "dup_rejected", "msg_exact")
  }

  private val dupRejectSql =
    """WITH c AS (
      | SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0
      | ORDER BY o_orderkey LIMIT 1)
      |SELECT CAST((SELECT COUNT(*) FROM orders o, c
      |   WHERE o.o_custkey = c.o_custkey AND o.o_orderkey % 3 = 0) AS BIGINT)
      |  AS n_clean_values,
      | true AS dup_rejected, true AS msg_exact""".stripMargin

  /** One-code-cell notebook with `src` as its source — the fixture payload
    * behind the B5 ipynb artifacts. */
  private def ipynbFor(src: String): String =
    s"""{"cells": [{"cell_type": "code", "source": "$src", "outputs": []}], "nbformat": 4}"""

  // The prefix/suffix around the source in the raw ipynb, in its
  // AttrCodec-quoted attribute form, and in the rendered html — computed by
  // RUNNING the template/quoter/renderer on a marker, so the length
  // constants the oracle SQL embeds can never drift from the Scala
  // implementations they mirror. The marker and the order priorities the
  // source slot carries contain no JSON- or HTML-escapable characters, so
  // quote/render distribute over the concatenation.
  private val B5Marker = "@@P@@"
  private def splitOnMarker(s: String): (String, String) = {
    val Array(pre, suf) =
      s.split(java.util.regex.Pattern.quote(B5Marker), -1)
    (pre, suf)
  }
  private val (ipynbPre, ipynbSuf) = splitOnMarker(ipynbFor(B5Marker))
  private val IpynbQuotedPre = graft.model.Json.quote(ipynbPre).dropRight(1)
  private val IpynbQuotedSuf = graft.model.Json.quote(ipynbSuf).drop(1)
  private val (htmlPre, htmlSuf) = splitOnMarker(
    graft.parser.Notebooks.convertIpynbToHtml(ipynbFor(B5Marker)))

  /** B5 — artifact extraction + the ipynb→html derivation flatMap
    * (reference `opentelemetry_task_span_parser.py:147-167`): every
    * OK-status `artefact` span under a task yields one metadata row
    * (name/type/length — `ArtifactContent.metadata_as_dict`), and a
    * `notebook.ipynb` artifact yields a SECOND derived `notebook.html` row
    * whose content is the rendered notebook. The derived collection's
    * artefact leaves are specialized in-query: odd artefact orders carry a
    * one-cell ipynb whose source is the order's priority (so the oracle can
    * recompute the rendered length from the lockstep constants above), and
    * one in four even ones is re-statused ERROR to pin the OK filter.
    * Runs the REAL parse — the rows come out of
    * `TaskRunSummary.loggedArtifacts`, not a shortcut projection. */
  def artifactRows(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val raw = with0x(spansFromOrders(s, d, Some(col("o_custkey") % 20 === 1)))
    val isArt = col("name") === "artefact"
    // every derived span id is "0x<letter><digits>", so this parse is total
    val k = substring(col("context.span_id"), 4, 18).cast("long")
    val priority = get_json_object(col("attributes")("content_encoded"), "$")
    val ipynbAttrs = map(
      lit("name"), lit("\"notebook.ipynb\""),
      lit("type"), lit("\"utf-8\""),
      lit("encoding"), lit("\"utf-8\""),
      lit("content_encoded"),
      concat(lit(IpynbQuotedPre), priority, lit(IpynbQuotedSuf)))
    val errStatus = struct(lit("ERROR").as("status_code"),
      lit(null).cast("string").as("description"))
    val spans = raw
      .withColumn("attributes",
        when(isArt && k % 6 === 1, ipynbAttrs).otherwise(col("attributes")))
      .withColumn("status",
        when(isArt && k % 12 === 4, errStatus).otherwise(col("status")))
      .coalesce(8) // see workflowTiming's note
    val summary = SpanParser.parseSpans(spans)
    summary.taskRuns.flatMap(tr => tr.loggedArtifacts.map(a =>
      (tr.taskId, a.name, a.tpe, a.content.asInstanceOf[String].length.toLong)))
      .toDF("task_id", "artifact_name", "artifact_type", "content_length")
  }

  private val artifactRowsSql = {
    val ipynbConst = ipynbPre.length + ipynbSuf.length
    val htmlConst = htmlPre.length + htmlSuf.length
    s"""WITH art AS (
      | SELECT o_orderkey AS k, o_orderpriority AS p FROM orders
      | WHERE o_custkey % 20 = 1 AND o_orderkey % 3 = 1)
      |SELECT 'ord-' || CAST(k AS VARCHAR) AS task_id,
      | 'notebook.ipynb' AS artifact_name, 'utf-8' AS artifact_type,
      | CAST($ipynbConst + LENGTH(p) AS BIGINT) AS content_length
      |FROM art WHERE k % 6 = 1
      |UNION ALL
      |SELECT 'ord-' || CAST(k AS VARCHAR), 'notebook.html', 'utf-8',
      | CAST($htmlConst + LENGTH(p) AS BIGINT)
      |FROM art WHERE k % 6 = 1
      |UNION ALL
      |SELECT 'ord-' || CAST(k AS VARCHAR), 'm' || CAST(k AS VARCHAR), 'utf-8',
      | CAST(LENGTH(p) AS BIGINT)
      |FROM art WHERE k % 12 = 10""".stripMargin
  }

  def graphEquality(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // scope the derivation to 1-in-50 customers so the equality semantics
    // are exercised on thousands of spans without re-deriving the full
    // archive per comparison job; the deps guard falls back to the full
    // derivation when the sample is degenerate
    val base = baseWithDepsOrFull(s, d, col("o_custkey") % 50 === 0)
    try {
      val spans = spansFrom(base)
      val permuted = spans.orderBy(col("context.span_id").desc)
      val truncated = spans.filter(col("name") =!= "task-dependency")
      Seq((spans.graphEquals(permuted), spans.graphEquals(truncated)))
        .toDF("eq_permuted", "eq_truncated")
    } finally base.unpersist(blocking = false)
  }

  private val graphEqualitySql =
    """SELECT true AS eq_permuted, false AS eq_truncated"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a1_nested_filter" -> nestedFilter _,
    "a10_graph_equality" -> graphEquality _,
    "a2_sort_ranks" -> sortRanks _,
    "a3_len_membership" -> lenMembership _,
    "a8_path_containment" -> pathContainment _,
    "b3_task_runs" -> taskRuns _,
    "b4_workflow_timing" -> workflowTiming _,
    "b5_artifact_rows" -> artifactRows _,
    "b6_dup_reject" -> dupReject _,
    "a4_attr_union_conflicts" -> attrUnionConflicts _,
    "a5_exception_harvest" -> exceptionHarvest _,
    "a6_span_edges" -> spanEdges _,
    "b1b2_dep_forms_agree" -> depFormsAgree _
  )

  val oracles: Map[String, String] = Map(
    "a1_nested_filter" -> nestedFilterSql,
    "a10_graph_equality" -> graphEqualitySql,
    "a2_sort_ranks" -> sortRanksSql,
    "a3_len_membership" -> lenMembershipSql,
    "a8_path_containment" -> pathContainmentSql,
    "b3_task_runs" -> taskRunsSql,
    "b4_workflow_timing" -> workflowTimingSql,
    "b5_artifact_rows" -> artifactRowsSql,
    "b6_dup_reject" -> dupRejectSql,
    "a4_attr_union_conflicts" -> attrUnionConflictsSql,
    "a5_exception_harvest" -> exceptionHarvestSql,
    "a6_span_edges" -> spanEdgesSql,
    "b1b2_dep_forms_agree" -> depFormsAgreeSql
  )
}
