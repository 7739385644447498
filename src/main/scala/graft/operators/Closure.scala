package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Transitive closure over a parent→child edge set (SURVEY §2 A7/A8/A10).
  *
  * The reference walks an in-memory span forest recursively
  * (`composable_logs/opentelemetry_helpers.py:295-308`, `:433-451`). Two
  * Spark expressions of that walk exist side by side:
  *
  *  - THIS operator: for groupable forests, the one-shuffle grouped walk
  *    below; for descendant sets, a driver-local walk under an edge budget
  *    and otherwise a driver-controlled iterative join to a fixpoint. Each
  *    iteration extends the deepest frontier by one hop, so the number of
  *    shuffles equals the forest depth — span trees are ≤ ~6 deep, and the
  *    depth bound (not edge count) is what survives a 100 TB scale-up.
  *  - Spark 4's native `WITH RECURSIVE` (UnionLoop), exposed on the SQL
  *    surface by [[graft.queries.Relational.closureRecursiveSql]]: the form
  *    a SQL-only consumer writes. The UnionLoop re-executes its anchor/step
  *    subplans every iteration (checkpointing the edge input is mandatory),
  *    and measures 2.19 s at sf0.1 — use it for SQL-surface compatibility,
  *    this operator when calling from code.
  *
  * Frontier DataFrames are persisted per-iteration and unpersisted as soon as
  * the next frontier materializes, so peak storage is two frontier levels, not
  * the whole closure.
  */
object Closure {

  /** Generator emitting the full ancestor walk of one edge group:
    * input `array<struct<parent bigint, child bigint>>`, output rows
    * (ancestor, descendant, depth). Runs inside `Generate` directly on
    * Tungsten rows — the typed `flatMapGroups` formulation it replaces paid
    * a tuple encoder round-trip per edge AND an extra shuffle, because
    * `groupByKey(_._1)` hides the grouping key inside a lambda where the
    * planner can't see the existing hash partitioning. */
  case class TreeClosureGen(
      child: org.apache.spark.sql.catalyst.expressions.Expression,
      maxDepth: Int = 100000)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._

    override def elementSchema: StructType = StructType(Seq(
      StructField("ancestor", LongType, nullable = false),
      StructField("descendant", LongType, nullable = false),
      StructField("depth", IntegerType, nullable = false)))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val arr = child.eval(input)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val parentOf = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < n) {
        val e = arr.getStruct(i, 2)
        // a null parent or child is "no edge" (e.g. root rows whose
        // parent_id is null) — skip rather than fabricate an edge to id 0,
        // which is what a bare getLong on a null field would read
        if (!e.isNullAt(0) && !e.isNullAt(1)) {
          parentOf(e.getLong(1)) = e.getLong(0)
        }
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      parentOf.foreachKey { node =>
        var cur = node
        var depth = 0
        var continue = true
        val bound = math.min(maxDepth, parentOf.size + 1) // cycle bound
        while (continue && depth < bound) {
          parentOf.get(cur) match {
            case Some(p) =>
              depth += 1
              out += InternalRow(p, node, depth)
              cur = p
            case None => continue = false
          }
        }
      }
      out
    }

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
      copy(child = newChild)
  }

  /** Partitioned tree closure (SURVEY §7.4.1's scale mitigation): when the
    * edge set is partitionable by a key (trace_id, user_id, tenant...) and
    * each group is a bounded forest, compute the closure with ONE shuffle
    * and an in-memory ancestor walk per group — no per-depth iteration.
    * Each node emits its ancestor chain, so work is proportional to the
    * output size O(nodes × depth).
    *
    * Ids are BIGINT; columns in: (keyCol, parentCol, childCol); out:
    * (ancestor, descendant, depth).
    */
  def treeClosureGrouped(
      edges: DataFrame,
      keyCol: String,
      parentCol: String = "parent",
      childCol: String = "child",
      maxDepth: Int = 100000): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val grouped = edges.select(
      col(keyCol).cast("long").as("k"),
      col(parentCol).cast("long").as("p"),
      col(childCol).cast("long").as("c"))
      .groupBy(col("k"))
      .agg(collect_list(struct(col("p"), col("c"))).as("es"))
    // a Project containing a Generator is rewritten to Generate by the
    // analyzer; the groupBy reuses any existing hash partitioning on the key
    grouped.select(Bridge.column(
      TreeClosureGen(Bridge.expression(col("es")), maxDepth)))
      .select(col("ancestor"), col("descendant"), col("depth"))
  }

  /** Edge-count ceiling for the driver-local walk: below it, the
    * per-iteration scheduling overhead of the distributed loop (a join +
    * count JOB per BFS level) dwarfs the actual work, so collecting the
    * edge list once and walking in memory is strictly faster — the same
    * jobs-vs-bytes call AQE makes when it swaps a shuffle join for a
    * broadcast. ~100k edges is a few MB of ids; larger graphs take the
    * distributed fixpoint below. Mutable ONLY so tests can force the
    * distributed path on small fixtures. */
  private[graft] var LocalWalkMaxEdges = 100000L

  /** Driver-local BFS over a collected edge list; returns (root, id) pairs
    * (descendants only — callers add the inclusive roots). */
  private def localDescendants(
      collected: Array[(Any, Any)],
      rootVals: Array[Any]): Seq[(Any, Any)] = {
    val adj = new java.util.HashMap[Any, java.util.ArrayList[Any]]()
    collected.foreach { case (p, c) =>
      adj.computeIfAbsent(p, _ => new java.util.ArrayList[Any]()).add(c)
    }
    val out = Seq.newBuilder[(Any, Any)]
    rootVals.foreach { root =>
      val seen = new java.util.HashSet[Any]()
      val stack = new java.util.ArrayDeque[Any]()
      stack.push(root)
      while (!stack.isEmpty) {
        val kids = adj.get(stack.pop())
        if (kids != null) kids.forEach { k =>
          if (seen.add(k)) { out += ((root, k)); stack.push(k) }
        }
      }
    }
    out.result()
  }

  private def localResultDF(
      edges: DataFrame,
      pairs: Seq[(Any, Any)],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("root", idType), StructField("id", idType)))
    edges.sparkSession.createDataFrame(
      pairs.map { case (r, i) => Row(r, i) }.asJava, schema)
  }

  /** Common id type across the parent/child/root columns. The driver-local
    * walk keys a HashMap[Any] on raw values and the result rows mix root
    * and child values in one column — an Integer root against Long edge
    * ids would silently miss the map lookup (empty walk) or fail row
    * validation; the distributed path used to paper over it via union
    * type-widening. All id columns are cast to this type up front so both
    * paths agree. */
  private def commonIdType(
      ts: Seq[org.apache.spark.sql.types.DataType]): org.apache.spark.sql.types.DataType =
    ts.reduceLeft { (a, b) =>
      if (a == b) a
      else org.apache.spark.sql.catalyst.analysis.TypeCoercion
        .findTightestCommonType(a, b).getOrElse(b)
    }

  /** (root, descendant) pairs for every root in `roots` (single column
    * "id"), labeling each reachable node with the root it came from. A node
    * under two roots appears once per root — exactly the semantics of the
    * reference's per-task `bound_inclusive` loop
    * (`opentelemetry_task_span_parser.py:378-410`), computed in one pass for
    * ALL roots instead of one traversal per task (O(spans·depth) vs the
    * reference's O(tasks × spans)).
    */
  def descendantsWithRoots(
      edges: DataFrame,
      roots: DataFrame,
      parentCol: String = "parent",
      childCol: String = "child",
      inclusive: Boolean = true,
      maxIter: Int = 30): DataFrame = {
    val idT = commonIdType(Seq(
      edges.schema(parentCol).dataType, edges.schema(childCol).dataType,
      roots.schema.head.dataType))
    val e = edges.select(
        col(parentCol).cast(idT).as("p"), col(childCol).cast(idT).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = e.count()
    val r = roots.select(col(roots.columns.head).cast(idT).as("root"))
      .withColumn("id", col("root"))

    if (nEdges <= LocalWalkMaxEdges) {
      val collected = e.collect().map(row => (row.get(0), row.get(1)))
      e.unpersist(blocking = false)
      val rootVals = r.select(col("root")).distinct().collect().map(_.get(0))
      val pairs = (localDescendants(collected, rootVals) ++
        (if (inclusive) rootVals.map(v => (v, v)) else Nil)).distinct
      return localResultDF(edges, pairs, idT)
    }

    var acc = if (inclusive) r else r.limit(0)
    var frontier = r.persist(StorageLevel.MEMORY_AND_DISK)
    var n = frontier.count()
    var iter = 0
    while (n > 0 && iter < maxIter) {
      val next = frontier.join(e, col("id") === col("p"))
        .select(col("root"), col("c").as("id")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      n = next.count()
      frontier.unpersist(blocking = false)
      if (n > 0) acc = acc.union(next)
      frontier = next
      iter += 1
    }
    frontier.unpersist(blocking = false)
    e.unpersist(blocking = false)
    // The frontier is deduped per iteration only, so on DAG-shaped (diamond)
    // edge sets a node reachable from the same root at TWO depths would be
    // emitted twice; distinct() makes the generic fallback safe beyond the
    // single-parent span forests of the primary path.
    acc.distinct()
  }

  /** Descendant node set reachable from `roots` (single column "id"),
    * mirroring `Spans.bound_under` (ref `opentelemetry_helpers.py:433-443`):
    * the [[descendantsWithRoots]] walk with the root label dropped.
    * Returns one column "id"; set `inclusive` to keep the roots themselves
    * (`bound_inclusive`, `:445-451`).
    */
  def descendantsOf(
      edges: DataFrame,
      roots: DataFrame,
      parentCol: String = "parent",
      childCol: String = "child",
      inclusive: Boolean = false,
      maxIter: Int = 30): DataFrame =
    descendantsWithRoots(edges, roots, parentCol, childCol, inclusive, maxIter)
      .select("id").distinct()
}
