package graft.spans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.AttrCodec
import graft.operators.Closure

/** The span-collection query surface (SURVEY §2 Group A), re-expressing the
  * reference's `Spans` container (`composable_logs/opentelemetry_helpers.py:365-491`)
  * as column expressions and joins over a span DataFrame (schema:
  * [[graft.model.SpanModel.schema]]).
  *
  * Usage: `import graft.spans.SpansOps._` then `df.filterNested(...)` etc.
  */
object SpansOps {

  /** Resolve a nested key path against the span schema: struct fields via
    * field access, `attributes`/`resource`/event-attribute maps via
    * `getItem`. */
  private def pathCol(df: DataFrame, keys: Seq[String]): Column =
    keys.tail.foldLeft(col(keys.head))((c, k) => c.getItem(k))

  private def isAttrPath(keys: Seq[String]): Boolean =
    keys.contains("attributes") || keys.contains("resource")

  implicit class SpansDF(val df: DataFrame) {

    /** A1 — `Spans.filter(keys, value)`: equality on a nested path; rows
      * where the path is missing are dropped (the reference's
      * try/except → False at `opentelemetry_helpers.py:373-381`), which the
      * null-rejecting `===` reproduces. Attribute-map values compare against
      * their JSON rendering (see [[graft.model.AttrCodec]]). */
    def filterNested(keys: Seq[String], value: Any): DataFrame = {
      val c = pathCol(df, keys)
      val v = if (isAttrPath(keys)) AttrCodec.render(value) else value
      df.filter(c.isNotNull && c === lit(v))
    }

    /** A2 — sort by parsed start time; `span_id` tie-break keeps output
      * deterministic under shuffles (the single-threaded reference gets
      * stability for free; a distributed sort does not). */
    def sortByStartTime(reverse: Boolean = false): DataFrame = {
      val t = to_timestamp(col("start_time"))
      if (reverse)
        df.orderBy(t.desc, col("context.span_id").desc)
      else
        df.orderBy(t.asc, col("context.span_id").asc)
    }

    /** A3 — membership by span id. */
    def containsSpanId(spanId: String): Boolean =
      df.filter(col("context.span_id") === spanId).limit(1).count() > 0

    /** A4 — union of all spans' attributes filtered by key prefix, raising
      * on a key bound to two distinct values
      * (`opentelemetry_helpers.py:459-491`). Aggregates distributed, map
      * assembled on the driver (the result is driver-sized by contract). */
    def attributesUnion(allowedPrefixes: Option[Set[String]] = None): Map[String, Any] = {
      val entries = df
        .select(explode_outer(map_entries(col("attributes"))).as("kv"))
        .select(col("kv.key").as("k"), col("kv.value").as("v"))
        .filter(col("k").isNotNull)
      val filtered = allowedPrefixes match {
        case None => entries
        case Some(ps) =>
          entries.filter(ps.map(p => col("k").startsWith(p)).reduce(_ || _))
      }
      filtered.groupBy(col("k"))
        .agg(collect_set(col("v")).as("vs"))
        .collect()
        .map(r => r.getString(0) -> AttrCodec.resolve(r.getString(0), r.getSeq[String](1)))
        .toMap
    }

    /** A4 at scale — the distributed, per-group form of [[attributesUnion]]:
      * one row per (group, key) with the distinct-value count and the
      * minimum rendered value. `n_vals > 1` is the conflict the driver-side
      * form raises on; emitting it as data instead lets a 100 TB run union
      * attributes across millions of workflows in one shuffle and triage
      * conflicts relationally rather than dying on the first one. */
    def attributesUnionByGroup(
        groupCol: Column,
        allowedPrefixes: Option[Set[String]] = None): DataFrame = {
      val entries = df
        .select(groupCol.as("grp"),
          explode_outer(map_entries(col("attributes"))).as("kv"))
        .select(col("grp"), col("kv.key").as("k"), col("kv.value").as("v"))
        .filter(col("k").isNotNull)
      val filtered = allowedPrefixes match {
        case None => entries
        case Some(ps) =>
          entries.filter(ps.map(p => col("k").startsWith(p)).reduce(_ || _))
      }
      // two-stage distinct-then-aggregate instead of countDistinct: the
      // single-aggregate form planned a 4-level SortAggregate chain (3
      // sorts over the exploded attribute entries — round-14 plan audit);
      // de-duplicating (grp, k, v) with a hash aggregate first and then
      // hash-aggregating the distinct rows computes the identical result
      // (count(v) skips nulls exactly as countDistinct does) with
      // whole-stage-codegen hash aggregates and no sorts.
      filtered.select(col("grp"), col("k"), col("v")).distinct()
        .groupBy(col("grp"), col("k"))
        .agg(count(col("v")).as("n_vals"), min(col("v")).as("v_min"))
    }

    /** A5 — all `exception` events across the collection, exploded
      * (`exception_events`, `opentelemetry_helpers.py:453-457`). */
    def exceptionEvents(): DataFrame =
      // the guard is what explode implies; written out because the session
      // config excludes InferFiltersFromGenerate (graft.Harness), and it
      // lets the optimizer drop every input branch whose events are a
      // constant empty array
      df.filter(size(col("events")) > 0)
        .select(col("context.span_id").as("span_id"), explode(col("events")).as("e"))
        .filter(col("e.name") === "exception")
        .select(col("span_id"), col("e.name").as("name"),
          col("e.timestamp").as("timestamp"), col("e.attributes").as("attributes"))

    /** A6 — (parent_id, span_id) edge extraction; persist at the call site
      * to mirror the reference's `_cached_graph` memo. */
    def spanEdges(): DataFrame =
      df.filter(col("parent_id").isNotNull)
        .select(col("parent_id").as("parent"), col("context.span_id").as("child"))

    /** A7 — `bound_under`: spans transitively under `topSpanId`
      * (exclusive). */
    def boundUnder(topSpanId: String): DataFrame =
      boundBy(topSpanId, inclusive = false)

    /** A7 — `bound_inclusive`. */
    def boundInclusive(topSpanId: String): DataFrame =
      boundBy(topSpanId, inclusive = true)

    private def boundBy(topSpanId: String, inclusive: Boolean): DataFrame = {
      val spark = df.sparkSession
      import spark.implicits._
      val roots = Seq(topSpanId).toDF("id")
      val ids = Closure.descendantsOf(spanEdges(), roots, inclusive = inclusive)
      df.join(ids, col("context.span_id") === col("id"), "left_semi")
    }

    /** A8 — `contains_path`: each consecutive pair of span ids must be
      * connected by ≥1 parent→child steps (intermediate nodes allowed,
      * `opentelemetry_helpers.py:421-431`). */
    def containsPath(spanIds: String*): Boolean = {
      require(spanIds.length >= 2, "containsPath: need at least 2 span ids")
      containsPaths(Seq(spanIds)).head
    }

    /** [[containsPath]] for SEVERAL paths in one pass: one edge scan, ONE
      * closure walk from the union of all paths' anchors, one join — where
      * n separate `containsPath` calls each re-derive the edges and re-run
      * the iterative walk (a chain of driver-blocking jobs apiece). The
      * walk starts only from anchor ids instead of materializing the
      * full-graph closure, so the cost is O(anchor subtrees), not
      * O(all spans × depth). */
    def containsPaths(paths: Seq[Seq[String]]): Seq[Boolean] = {
      require(paths.forall(_.length >= 2),
        "containsPaths: every path needs at least 2 span ids")
      val spark = df.sparkSession
      import spark.implicits._
      val anchors = paths.flatMap(_.dropRight(1)).distinct.toDF("r")
      val reach = Closure
        .descendantsWithRoots(spanEdges(), anchors, inclusive = false)
      val pairs = paths.zipWithIndex.flatMap { case (p, i) =>
        p.zip(p.tail).map { case (a, d) => (i, a, d) }
      }.toDF("path_idx", "a", "d")
      val matched = pairs.join(reach,
          col("a") === col("root") && col("d") === col("id"), "left_semi")
        .groupBy(col("path_idx")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      paths.zipWithIndex.map { case (p, i) =>
        matched.getOrElse(i, 0L) == p.length - 1
      }
    }

    /** A9 — root spans: all ids minus child ids (anti-join form,
      * `UDT.root_nodes` `opentelemetry_helpers.py:289-293`). */
    def rootSpans(): DataFrame = {
      val children = spanEdges().select(col("child"))
      df.join(children, col("context.span_id") === col("child"), "left_anti")
    }

    /** A10 — graph equality on (edges, node set). Computed as ONE tagged
      * union + aggregation instead of four `except().isEmpty` jobs: the two
      * sides' distinct (edge ∪ node) row sets are equal iff every grouped
      * row was seen on BOTH sides — same set semantics as symmetric
      * `except`, a quarter of the job launches. */
    def graphEquals(other: DataFrame): Boolean = {
      def rows(x: DataFrame, s1: Int, s2: Int) = {
        val edges = new SpansDF(x).spanEdges()
          .select(lit("e").as("kind"), col("parent").as("a"), col("child").as("b"))
        val nodes = x.select(lit("n").as("kind"),
          col("context.span_id").as("a"), lit("").as("b"))
        edges.unionByName(nodes)
          .withColumn("s1", lit(s1)).withColumn("s2", lit(s2))
      }
      rows(df, 1, 0).unionByName(rows(other, 0, 1))
        .groupBy(col("kind"), col("a"), col("b"))
        .agg(max(col("s1")).as("m1"), max(col("s2")).as("m2"))
        .filter(col("m1") =!= col("m2"))
        .isEmpty
    }
  }
}
