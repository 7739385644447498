package graft.parser

import java.util.UUID

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

import graft.model.{AttrCodec, SerializedData, SpanEventRow}
import graft.spans.SpansOps._

/** One span as the driver-side parse reads it: the narrow projection
  * [[SpanParser.collectSpans]] fetches. `links` and `resource` are left
  * out; nothing in the summary reads them. */
case class ParseSpan(
    name: String,
    traceId: String,
    spanId: String,
    parentId: String,
    startTime: String,
    endTime: String,
    statusCode: String,
    attributes: Map[String, String],
    events: Seq[SpanEventRow])

object ParseSpan {
  val encoder: Encoder[ParseSpan] = Encoders.product[ParseSpan]
}

/** Span→summary parser (SURVEY §2 Group B, §3.2): the Spark re-expression of
  * the reference's `parse_spans`
  * (`composable_logs/opentelemetry_task_span_parser.py:413-445`).
  *
  * [[parseSpans]] is one scan plus driver assembly. One Spark job collects
  * a narrow projection of the log ([[collectSpans]]); one in-memory pass
  * ([[summarize]]) builds each trace's parent map, walks every span's
  * `execute-task` ancestors and assembles the [[WorkflowSummary]] — the
  * reference's single pass over one run's span list. The summary is
  * driver-sized by contract (it is the reference's whole output), so
  * building it with distributed joins only adds a job per step.
  *
  * The distributed path is for large logs: [[taggedSpans]] /
  * [[namedValuesDF]] / [[taskRunsDF]] stay in Spark and
  * never collect the log. Both paths attribute spans to tasks through the
  * same walk, [[TaskAncestry]], with ownership keyed by (trace id, span
  * id).
  */
object SpanParser {

  /** B1 — legacy attribute-form dependencies (`task-dependency` spans). */
  def extractTaskDependencies(spans: DataFrame): Set[(String, String)] =
    spans.filterNested(Seq("name"), "task-dependency")
      .select(
        col("attributes").getItem("from_task_span_id").as("f"),
        col("attributes").getItem("to_task_span_id").as("t"))
      .distinct().collect()
      .map(r => (AttrCodec.parse(r.getString(0)).asInstanceOf[String],
        AttrCodec.parse(r.getString(1)).asInstanceOf[String]))
      .toSet

  /** B2 — link-form dependencies (`execute-task` spans' links); asserted
    * equal to B1 by the reference's tests (`test_dag_runner.py:139-144`). */
  def extractTaskDependenciesFromLinks(spans: DataFrame): Set[(String, String)] =
    spans.filterNested(Seq("name"), "execute-task")
      .select(explode(col("links")).as("l"), col("context.span_id").as("sid"))
      .select(col("l.context.span_id").as("f"), col("sid").as("t"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
      .toSet

  /** One trace's span forest for the inclusive `execute-task` ancestor
    * walk: the one walk behind [[OwnershipGen]], [[TaskRunsGen]] and
    * [[summarize]]. A null span id owns and is owned by nothing; when a
    * span id repeats, its last non-null parent wins; a visited set ends
    * the walk on parent_id cycles (the reference assumes acyclic input;
    * malformed input terminates here instead of spinning). */
  private[graft] final class TaskAncestry(expectedSpans: Int) {
    private val parentOf = new java.util.HashMap[String, String](expectedSpans * 2)
    private val tasks = new java.util.HashSet[String]()

    def add(sid: String, parentId: String, isTask: Boolean): Unit =
      if (sid != null) {
        if (parentId != null) parentOf.put(sid, parentId)
        if (isTask) tasks.add(sid)
      }

    /** Calls `f` on every `execute-task` span owning `sid` (itself
      * included), nearest first. */
    def foreachOwner(sid: String)(f: String => Unit): Unit = {
      val visited = new java.util.HashSet[String]()
      var cur = sid
      while (cur != null && visited.add(cur)) {
        if (tasks.contains(cur)) f(cur)
        cur = parentOf.get(cur)
      }
    }
  }

  /** (task_span_id, id, trace_id) ownership triples: every span labeled
    * with each `execute-task` ancestor (inclusive) in its own trace.
    *
    * Spans are partitionable by trace (one workflow run per trace — the
    * same bound the reference assumes by holding a run's spans in one
    * list), so ownership is ONE shuffle + an in-memory ancestor walk per
    * trace, not a per-depth iterative join. */
  def taggedSpans(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    spans
      .select(col("context.trace_id").as("trace"),
        struct(
          col("context.span_id").as("sid"),
          col("parent_id"),
          // coalesce: a span with a null name (tolerated by SpanSource)
          // must yield a non-null flag, not a null struct field
          coalesce(col("name") === "execute-task", lit(false)).as("is_task"))
          .as("s"))
      .groupBy(col("trace"))
      .agg(collect_list(col("s")).as("ss"))
      // Generate over Tungsten rows — the typed groupByKey formulation paid
      // a tuple-encoder round-trip per span plus an extra shuffle (the
      // lambda key is opaque to the planner)
      .select(col("trace").as("trace_id"),
        Bridge.column(OwnershipGen(Bridge.expression(col("ss")))))
      .select(col("task_span_id"), col("id"), col("trace_id"))
  }

  /** Generator emitting (task_span_id, id) ownership pairs for one trace's
    * spans: every span occurrence labeled with each `execute-task`
    * ancestor (inclusive). Input: `array<struct<sid string, parent_id
    * string, is_task boolean>>`. */
  case class OwnershipGen(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    override def elementSchema: StructType = StructType(Seq(
      StructField("task_span_id", StringType, nullable = false),
      StructField("id", StringType, nullable = false)))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val arr = child.eval(input)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val walk = new TaskAncestry(n)
      val ids = new Array[String](n)
      var i = 0
      while (i < n) {
        val e = arr.getStruct(i, 3)
        if (!e.isNullAt(0)) {
          ids(i) = e.getUTF8String(0).toString
          walk.add(ids(i),
            if (e.isNullAt(1)) null else e.getUTF8String(1).toString,
            !e.isNullAt(2) && e.getBoolean(2))
        }
        i += 1
      }
      val out = mutable.ArrayBuffer.empty[InternalRow]
      ids.foreach { sid =>
        if (sid != null) {
          val id = UTF8String.fromString(sid)
          walk.foreachOwner(sid)(t => out += InternalRow(UTF8String.fromString(t), id))
        }
      }
      out
    }

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
      copy(child = newChild)
  }

  /** Payload spans (`named-value` / `artefact`, status OK) joined to their
    * owning task in the same trace. */
  def payloadDF(spans: DataFrame, pairs: DataFrame, spanName: String): DataFrame =
    spans.filterNested(Seq("name"), spanName)
      .filterNested(Seq("status", "status_code"), "OK")
      .join(pairs, col("context.span_id") === col("id") &&
        col("context.trace_id") <=> col("trace_id"))
      .select(col("task_span_id"), col("context.span_id").as("span_id"),
        col("start_time"), col("attributes"))

  def namedValuesDF(spans: DataFrame): DataFrame =
    payloadDF(spans, taggedSpans(spans), "named-value")

  /** The full parse (B3/B4): spans → [[WorkflowSummary]] in one Spark job. */
  def parseSpans(spans: DataFrame): WorkflowSummary =
    summarize(collectSpans(spans))

  /** The parse's one Spark job: every span's [[ParseSpan]] projection. */
  def collectSpans(spans: DataFrame): Seq[ParseSpan] =
    ArraySeq.unsafeWrapArray(spans.select(
        col("name"),
        col("context.trace_id").as("traceId"),
        col("context.span_id").as("spanId"),
        col("parent_id").as("parentId"),
        col("start_time").as("startTime"),
        col("end_time").as("endTime"),
        col("status.status_code").as("statusCode"),
        col("attributes"),
        col("events"))
      .as(ParseSpan.encoder)
      .collect())

  /** (trace id, task span id): the key of everything a task owns. */
  private type TaskKey = (String, String)

  /** Driver assembly of one log's spans into its [[WorkflowSummary]]. The
    * checks run in a fixed order: workflow attributes, task attributes,
    * exceptions, named values, artifacts, task ids, dependencies. */
  def summarize(spans: Seq[ParseSpan]): WorkflowSummary = {
    // B4 timing: min/max over ALL spans; the reference compares ISO
    // strings lexicographically, which is order-correct for the fixed
    // format
    val timing = Timing(
      spans.iterator.map(_.startTime).filter(_ != null).minOption.orNull,
      spans.iterator.map(_.endTime).filter(_ != null).maxOption.orNull)

    // B3 workflow attribute union across all spans (same conflict contract
    // as SpansOps.attributesUnion)
    val workflowAttributes =
      resolveAttrs(spans.iterator.flatMap(attrEntries(_, "workflow.")))
    val topSpanId: String =
      workflowAttributes.get("workflow.workflow_run_id") match {
        case Some(s: String) => s
        case _ => "NO-TOP-SPAN--TEMP" + UUID.randomUUID().toString
      }

    val owned = ownedSpans(spans)

    // Task-subtree attribute union with per-(task, key) conflict detection.
    val taskAttrs: Map[TaskKey, Map[String, Any]] = owned.iterator
      .map { case (task, ss) =>
        task -> resolveAttrs(ss.iterator.flatMap(attrEntries(_, "task.")))
      }.toMap

    // Exceptions per task (deterministic order by emitting span's time).
    val taskExceptions: Map[TaskKey, Seq[Map[String, Any]]] = owned.iterator
      .map { case (task, ss) =>
        task -> byStart(ss).flatMap(s =>
          Option(s.events).getOrElse(Nil).collect {
            case e if e.name == "exception" => Map[String, Any](
              "name" -> e.name,
              "timestamp" -> e.timestamp,
              "attributes" -> AttrCodec.parseMap(e.attributes))
          })
      }.toMap

    // B6 named values: exact attr key set + duplicate-name rejection.
    val taskValues: Map[TaskKey, Map[String, LoggedValueContent]] = owned.iterator
      .map { case (task, ss) =>
        val seen = mutable.LinkedHashMap.empty[String, LoggedValueContent]
        payload(ss, "named-value").foreach { s =>
          val attrs = attrsOf(s)
          require(attrs.keySet == Set("name", "type", "encoding", "content_encoded"),
            s"named-value span has unexpected attribute keys: ${attrs.keySet}")
          val parsed = AttrCodec.parseMap(attrs)
          val name = parsed("name").asInstanceOf[String]
          if (seen.contains(name)) throw new IllegalArgumentException(
            s"Named value $name has been logged multiple times.")
          val tpe = parsed("type").asInstanceOf[String]
          val content = SerializedData(tpe,
            parsed("encoding").asInstanceOf[String],
            parsed("content_encoded").asInstanceOf[String]).decode()
          seen(name) = LoggedValueContent(tpe, content)
        }
        task -> seen.toMap
      }.toMap

    // B5 artifacts (+ notebook.html derivation flatMap).
    val taskArtifacts: Map[TaskKey, Seq[ArtifactContent]] = owned.iterator
      .map { case (task, ss) =>
        task -> payload(ss, "artefact").flatMap { s =>
          val parsed = AttrCodec.parseMap(attrsOf(s))
          val name = parsed("name").asInstanceOf[String]
          val tpe = parsed("type").asInstanceOf[String]
          val content = SerializedData(tpe,
            parsed("encoding").asInstanceOf[String],
            parsed("content_encoded").asInstanceOf[String]).decode()
          val artifact = ArtifactContent(name, tpe, content)
          if (name == "notebook.ipynb") {
            require(tpe == "utf-8", "notebook.ipynb should be utf-8")
            Seq(artifact, ArtifactContent("notebook.html", "utf-8",
              Notebooks.convertIpynbToHtml(content.asInstanceOf[String])))
          } else Seq(artifact)
        }
      }.toMap

    // B3 assembly: one TaskRunSummary per execute-task span, by start time
    // (null/malformed timestamps first), span id breaking ties.
    val taskRuns = spans.filter(_.name == "execute-task")
      .sortBy(s => (safeEpochUs(s.startTime), Option(s.spanId).getOrElse("")))
      .map { s =>
        val key = (s.traceId, s.spanId)
        val attrs = workflowAttributes ++ taskAttrs.getOrElse(key, Map.empty)
        val taskId = attrs.get("task.id") match {
          case Some(id: String) => id
          case other => throw new IllegalArgumentException(
            s"task.id missing or not a string for task span ${s.spanId}: $other")
        }
        TaskRunSummary(
          spanId = s.spanId,
          parentSpanId = topSpanId,
          taskId = taskId,
          exceptions = taskExceptions.getOrElse(key, Seq.empty),
          attributes = attrs,
          timing = Timing(s.startTime, s.endTime),
          loggedValues = taskValues.getOrElse(key, Map.empty),
          loggedArtifacts = taskArtifacts.getOrElse(key, Seq.empty))
      }

    // B1 attribute-form dependency pairs, distinct before decoding
    val taskDependencies = spans.iterator.filter(_.name == "task-dependency")
      .map { s =>
        val a = attrsOf(s)
        (a.getOrElse("from_task_span_id", null), a.getOrElse("to_task_span_id", null))
      }
      .toSet
      .map { (ft: (String, String)) =>
        (AttrCodec.parse(ft._1).asInstanceOf[String],
          AttrCodec.parse(ft._2).asInstanceOf[String])
      }

    WorkflowSummary(
      spanId = topSpanId,
      timing = timing,
      attributes = workflowAttributes,
      taskRuns = taskRuns,
      taskDependencies = taskDependencies)
  }

  /** Every span labeled with each `execute-task` ancestor (inclusive) in
    * its own trace, grouped by owning task in first-seen order. A span id
    * repeated n times within a trace puts each of its rows n times under
    * every owner: the multiplicity of the distributed path's
    * spans⋈[[taggedSpans]] join ([[payloadDF]], [[TaskRunsGen]]), so both
    * paths count a repeated payload or exception span alike. */
  private def ownedSpans(spans: Seq[ParseSpan]): Seq[(TaskKey, Seq[ParseSpan])] = {
    val byTrace = mutable.LinkedHashMap.empty[Option[String], mutable.ArrayBuffer[ParseSpan]]
    spans.foreach(s => byTrace.getOrElseUpdate(Option(s.traceId), mutable.ArrayBuffer.empty) += s)
    val owned = mutable.LinkedHashMap.empty[TaskKey, mutable.ArrayBuffer[ParseSpan]]
    byTrace.foreach { case (trace, rows) =>
      val walk = new TaskAncestry(rows.size)
      val repeats = mutable.HashMap.empty[String, Int]
      rows.foreach { s =>
        walk.add(s.spanId, s.parentId, s.name == "execute-task")
        if (s.spanId != null) repeats(s.spanId) = repeats.getOrElse(s.spanId, 0) + 1
      }
      rows.foreach { s =>
        if (s.spanId != null) {
          val n = repeats(s.spanId)
          walk.foreachOwner(s.spanId) { t =>
            val buf = owned.getOrElseUpdate((trace.orNull, t), mutable.ArrayBuffer.empty)
            (0 until n).foreach(_ => buf += s)
          }
        }
      }
    }
    owned.iterator.map { case (task, ss) => task -> ss.toSeq }.toSeq
  }

  private def attrsOf(s: ParseSpan): Map[String, String] =
    Option(s.attributes).getOrElse(Map.empty)

  private def attrEntries(s: ParseSpan, prefix: String): Iterator[(String, String)] =
    attrsOf(s).iterator.filter(_._1.startsWith(prefix))

  /** OK-status `spanName` spans, by start time then span id (both
    * null-tolerant: SpanSource tolerates missing start_time/span_id, and a
    * raw String Ordering NPEs on null). */
  private def payload(ss: Seq[ParseSpan], spanName: String): Seq[ParseSpan] =
    byStart(ss.filter(s => s.name == spanName && s.statusCode == "OK"))

  private def byStart(ss: Seq[ParseSpan]): Seq[ParseSpan] =
    ss.sortBy(s => (Option(s.startTime).getOrElse(""), Option(s.spanId).getOrElse("")))

  /** Attribute union of (key, raw value) entries: one value per key, or
    * the [[AttrCodec.resolve]] conflict error. */
  private def resolveAttrs(entries: Iterator[(String, String)]): Map[String, Any] = {
    val raws = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
    entries.foreach { case (k, v) =>
      raws.getOrElseUpdate(k, mutable.LinkedHashSet.empty) += v
    }
    raws.iterator.map { case (k, vs) => k -> AttrCodec.resolve(k, vs.toSeq) }.toMap
  }

  /** Sort key tolerant of null/malformed timestamps (sorted first, like the
    * cluster-side `orderBy(to_timestamp(...))` null ordering it replaced). */
  private[graft] def safeEpochUs(s: String): Long =
    if (s == null) Long.MinValue
    else try graft.model.TimeFns.iso8601ToEpochUs(s)
    catch { case _: RuntimeException | _: java.time.DateTimeException => Long.MinValue }

  /** B9-style flat task-run DataFrame (for sinks/relational queries over
    * many runs) — everything driver-sized stripped of artifact payloads.
    *
    * Single-pass shape (round-15, guide §7.2): ONE narrow per-span
    * projection is grouped by trace once and [[TaskRunsGen]] does the
    * ownership walk AND the exception attribution in one in-memory pass.
    * Parity with the three-branch join formulation is pinned by ParserSpec
    * ("fused == unfused on nested tasks/cycles") against the test-tree
    * oracle `ParseOracles.taskRunsDFUnfused`. */
  def taskRunsDF(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val isTask = coalesce(col("name") === "execute-task", lit(false))
    val perSpan = spans.select(
      col("context.trace_id").as("trace"),
      struct(
        col("context.span_id").as("sid"),
        col("parent_id"),
        isTask.as("is_task"),
        coalesce(size(filter(col("events"),
          e => e.getField("name") === lit("exception"))), lit(0))
          .cast("long").as("n_exc"),
        when(isTask, col("start_time")).as("start_time"),
        when(isTask, col("end_time")).as("end_time"),
        // attribute values are JSON-rendered; "$" unquotes the string value
        when(isTask,
          get_json_object(col("attributes").getItem("task.id"), "$"))
          .as("task_id"))
        .as("s"))
    perSpan
      .groupBy(col("trace"))
      .agg(collect_list(col("s")).as("ss"))
      .select(Bridge.column(TaskRunsGen(Bridge.expression(col("ss")))))
      .withColumn("is_success", col("n_exceptions") === 0)
      .withColumn("duration_s",
        graft.model.TimeFns.durationSCol(col("start_time"), col("end_time")))
  }

  /** Generator emitting one task-run row per `execute-task` span of one
    * trace, with exception events attributed through the [[TaskAncestry]]
    * walk: null span ids own and are owned by nothing (a null-sid task
    * still emits its row, with 0 exceptions), cycles terminate, and a
    * duplicated sid multiplies pair occurrences exactly like the old
    * pairs⋈events join did (per-occurrence walk × per-sid event total).
    * Input: `array<struct<sid, parent_id, is_task, n_exc, start_time,
    * end_time, task_id>>`. */
  case class TaskRunsGen(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String

    override def elementSchema: StructType = StructType(Seq(
      StructField("task_span_id", StringType, nullable = true),
      StructField("start_time", StringType, nullable = true),
      StructField("end_time", StringType, nullable = true),
      StructField("task_id", StringType, nullable = true),
      StructField("n_exceptions", LongType, nullable = false)))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val arr = child.eval(input)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val walk = new TaskAncestry(n)
      val totalExc = new java.util.HashMap[String, Long]()
      var i = 0
      while (i < n) {
        val e = arr.getStruct(i, 7)
        if (!e.isNullAt(0)) {
          val sid = e.getUTF8String(0).toString
          walk.add(sid,
            if (e.isNullAt(1)) null else e.getUTF8String(1).toString,
            !e.isNullAt(2) && e.getBoolean(2))
          val ne = e.getLong(3)
          if (ne > 0)
            totalExc.merge(sid, ne, (a: Long, b: Long) => a + b)
        }
        i += 1
      }
      // per-task exception totals: every span OCCURRENCE with events walks
      // its inclusive ancestors (occurrences × per-sid totals = exactly
      // the old join's multiplicity)
      val taskExc = new java.util.HashMap[String, Long]()
      i = 0
      while (i < n) {
        val e = arr.getStruct(i, 7)
        if (!e.isNullAt(0)) {
          val sid = e.getUTF8String(0).toString
          val tot = totalExc.getOrDefault(sid, 0L)
          if (tot > 0)
            walk.foreachOwner(sid)(t => taskExc.merge(t, tot, (a: Long, b: Long) => a + b))
        }
        i += 1
      }
      val out = mutable.ArrayBuffer.empty[InternalRow]
      i = 0
      while (i < n) {
        val e = arr.getStruct(i, 7)
        if (!e.isNullAt(2) && e.getBoolean(2)) {
          val sid = if (e.isNullAt(0)) null else e.getUTF8String(0).toString
          def s(idx: Int): UTF8String =
            if (e.isNullAt(idx)) null
            else UTF8String.fromString(e.getUTF8String(idx).toString)
          out += InternalRow(
            if (sid == null) null else UTF8String.fromString(sid),
            s(4), s(5), s(6),
            if (sid == null) 0L else taskExc.getOrDefault(sid, 0L))
        }
        i += 1
      }
      out
    }

    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
      copy(child = newChild)
  }
}


/** E8/B5 — minimal ipynb-JSON → HTML renderer (no nbconvert on the JVM;
  * the reference shells out to `jupyter nbconvert --to html`,
  * `notebooks_helpers.py:14-52`). Renders what the reference's tests
  * actually assert on (`tasks/notebook_tasks/test_ok_notebook.py:37-74`):
  * every cell's source and every textual output (stream /
  * execute_result / display_data / error) appear in the html. */
object Notebooks {
  import scala.collection.immutable.ListMap
  import graft.model.Json

  def convertIpynbToHtml(ipynbJson: String): String = {
    // a malformed/truncated notebook (partial upload, exporter bug) must
    // not fail the whole workflow parse — fall back to the escaped raw
    // content, the same always-succeeds behavior the parse had before the
    // renderer existed
    val parsed = try Some(Json.parse(ipynbJson)) catch {
      case _: RuntimeException => None
    }
    if (parsed.isEmpty) {
      return "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">" +
        "<title>notebook</title></head>\n<body><pre class=\"ipynb-raw\">" +
        escapeHtml(ipynbJson) + "</pre></body></html>\n"
    }
    val cells = parsed.get match {
      case m: ListMap[_, _] =>
        m.asInstanceOf[ListMap[String, Any]].get("cells") match {
          case Some(cs: Vector[_]) => cs
          case _ => Vector.empty
        }
      case _ => Vector.empty
    }
    val body = cells.map {
      case c: ListMap[_, _] => renderCell(c.asInstanceOf[ListMap[String, Any]])
      case _ => ""
    }.mkString("\n")
    "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">" +
      "<title>notebook</title></head>\n<body>\n" + body + "\n</body></html>\n"
  }

  /** Attachment mime strings ride into an HTML attribute verbatim, so only
    * the strict registered-type shape is accepted (full-match, no quotes,
    * spaces, or angle brackets can pass). */
  private val AttachmentMime = "image/[A-Za-z0-9.+-]+".r

  private def renderCell(cell: ListMap[String, Any]): String = {
    val tpe = cell.get("cell_type") match {
      case Some(s: String) => s
      case _ => "code"
    }
    // markdown cells render AS markup (headers/emphasis/code spans — what
    // the reference's nbconvert output carries and its tests assert on,
    // `notebooks_helpers.py:126-155`); code cells keep the literal <pre>
    val attachments = cell.get("attachments") match {
      case Some(a: ListMap[_, _]) =>
        a.asInstanceOf[ListMap[String, Any]].collect {
          case (name, mimes: ListMap[_, _]) =>
            mimes.asInstanceOf[ListMap[String, Any]].collectFirst {
              // strict shape, not just the prefix: the mime string lands
              // inside an HTML attribute below, so a hostile key like
              // `image/png" onerror="..."` must never enter the map
              case (mime, data) if AttachmentMime.matches(mime) =>
                name -> (mime, textOf(data))
            }
        }.flatten.toMap
      case _ => Map.empty[String, (String, String)]
    }
    val src =
      if (tpe == "markdown")
        renderMarkdown(textOf(cell.get("source")), attachments)
      else if (tpe == "raw") {
        // nbconvert includes a raw cell VERBATIM when its declared
        // mimetype matches the export format (text/html here) and drops
        // it otherwise; an undeclared mimetype is included — raw cells
        // exist precisely to inject format-specific markup
        val mime = cell.get("metadata") match {
          case Some(m: ListMap[_, _]) =>
            m.asInstanceOf[ListMap[String, Any]].get("raw_mimetype") match {
              case Some(s: String) => Some(s)
              case _ => None
            }
          case _ => None
        }
        if (mime.forall(_ == "text/html")) textOf(cell.get("source")) else ""
      }
      else s"""<pre class="input">${escapeHtml(textOf(cell.get("source")))}</pre>"""
    val outs = cell.get("outputs") match {
      case Some(os: Vector[_]) => os.collect {
        case o: ListMap[_, _] => renderOutput(o.asInstanceOf[ListMap[String, Any]])
      }.mkString("\n")
      case _ => ""
    }
    s"""<div class="cell $tpe">\n$src\n$outs</div>"""
  }

  private def outPre(s: String): String =
    s"""<pre class="output">${escapeHtml(s)}</pre>"""

  /** IPython colors tracebacks/streams with ANSI SGR sequences; nbconvert
    * converts them to styled spans — here they are stripped, so the HTML
    * carries the text rather than raw escape bytes. */
  private[graft] def stripAnsi(s: String): String =
    s.replaceAll("\\x1B\\[[0-9;]*[A-Za-z]", "")

  /** One nbformat output → its final HTML fragment. Rich-data precedence
    * mirrors nbconvert: `image/png` embeds as a data-URI `<img>`,
    * `text/html` passes through as markup (nbconvert emits it raw — the
    * notebook author's own HTML), `text/plain` renders escaped. */
  private def renderOutput(o: ListMap[String, Any]): String =
    o.get("output_type") match {
      case Some("stream") => outPre(stripAnsi(textOf(o.get("text"))))
      case Some("execute_result") | Some("display_data") =>
        o.get("data") match {
          case Some(d: ListMap[_, _]) =>
            val data = d.asInstanceOf[ListMap[String, Any]]
            data.get("image/png") match {
              case Some(b64) =>
                // base64 arrives as a string or line list, often
                // newline-broken — data URIs need it contiguous. Strip to
                // the base64 alphabet (not just whitespace): anything else
                // in a src attribute is attribute-breakout markup, and a
                // valid payload never contains other characters.
                val clean = textOf(Some(b64)).replaceAll("[^A-Za-z0-9+/=]", "")
                s"""<img class="output" src="data:image/png;base64,$clean"/>"""
              case None => data.get("text/html") match {
                case Some(h) =>
                  s"""<div class="output html">${textOf(Some(h))}</div>"""
                case None => outPre(textOf(data.get("text/plain")))
              }
            }
          case _ => ""
        }
      case Some("error") =>
        val name = textOf(o.get("ename"))
        val value = textOf(o.get("evalue"))
        val tb = textOf(o.get("traceback"))
        outPre(stripAnsi(s"$name: $value\n$tb"))
      case _ => outPre(textOf(o.get("text")))
    }

  /** nbformat sources/outputs are a string or a list of line strings. */
  private def textOf(v: Any): String = v match {
    case Some(x) => textOf(x)
    case None | null => ""
    case s: String => s
    case xs: Vector[_] => xs.map(textOf).mkString
    case other => other.toString
  }

  private def escapeHtml(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Minimal markdown → HTML for notebook markdown cells: ATX headers,
    * `**bold**`, `*italic*`, `` `code` `` spans, bullet/ordered lists
    * (indentation-nested), fenced code blocks, `$...$`/`$$...$$` math, and
    * `![alt](attachment:name)` cell-attachment images — the constructs
    * notebook markdown actually uses. Escapes FIRST, then wraps, so
    * payload text can never inject markup; replacement text is
    * regex-quoted so `$`/`\` in the content survive. Code-span contents
    * are shielded behind placeholders while the emphasis passes run —
    * nbconvert keeps code spans VERBATIM, so `` `*args` ``/`` `**kwargs` ``
    * must not sprout <em>/<strong> inside the <code> tag. Math spans get
    * the same shield with their `$` delimiters kept intact: nbconvert
    * passes TeX through untouched for MathJax, so `$a*b*c$` must reach
    * the page as written (escaped, unemphasized), not as `a<em>b</em>c`.
    * Attachment images resolve against the cell's `attachments` dict to
    * a base64 data URI exactly like rich outputs; an unresolvable name
    * stays literal text, matching nbconvert's broken-ref behavior. */
  private[graft] def renderMarkdown(md: String,
      attachments: Map[String, (String, String)] = Map.empty): String = {
    import scala.util.matching.Regex
    def wrap(t: String, re: Regex, tag: String): String =
      re.replaceAllIn(t, m =>
        Regex.quoteReplacement(s"<$tag>${m.group(1)}</$tag>"))
    def inline(s: String): String = {
      val frags = scala.collection.mutable.ArrayBuffer.empty[String]
      def shield(html: String): String = {
        frags += html
        Regex.quoteReplacement(s"\u0000${frags.size - 1}\u0000")
      }
      // NUL delimits the placeholders, so literal NULs in the cell text
      // (legal JSON, via its \u0000 escape) are stripped first — they'd
      // otherwise form phantom placeholders indexing past `frags`
      var t = escapeHtml(s).replace("\u0000", "")
      t = "!\\[([^\\]]*)\\]\\(attachment:([^)]+)\\)".r.replaceAllIn(t, m =>
        attachments.get(m.group(2)) match {
          case Some((mime, b64)) =>
            val clean = b64.replaceAll("[^A-Za-z0-9+/=]", "")
            // escapeHtml leaves `"` alone (fine in text, not in an
            // attribute) — quote it here so alt can't break out
            val alt = m.group(1).replace("\"", "&quot;")
            shield(s"""<img class="attachment" alt="$alt" """ +
              s"""src="data:$mime;base64,$clean"/>""")
          case None => Regex.quoteReplacement(m.matched)
        })
      t = "`([^`]+)`".r.replaceAllIn(t, m => shield(s"<code>${m.group(1)}</code>"))
      // math, display then inline, delimiters preserved for MathJax
      t = "\\$\\$([^$]+)\\$\\$".r.replaceAllIn(t, m => shield(m.matched))
      t = "\\$([^$]+)\\$".r.replaceAllIn(t, m => shield(m.matched))
      t = wrap(t, "\\*\\*([^*]+)\\*\\*".r, "strong")
      t = wrap(t, "\\*([^*]+)\\*".r, "em")
      "\u0000([0-9]+)\u0000".r.replaceAllIn(t, m =>
        Regex.quoteReplacement(frags(m.group(1).toInt)))
    }
    val header = "^(#{1,6})\\s+(.*)$".r
    val bullet = "^(\\s*)[-*]\\s+(.*)$".r
    val ordered = "^(\\s*)(\\d+)[.)]\\s+(.*)$".r
    val fence = "^\\s*```".r
    def listLine(l: String): Option[(Int, Boolean, String)] = l match {
      case bullet(ind, rest) => Some((ind.length, false, rest))
      case ordered(ind, _, rest) => Some((ind.length, true, rest))
      case _ => None
    }
    // Indentation-nested list run → nested <ul>/<ol>: an item deeper than
    // its predecessor opens a child list INSIDE the predecessor's <li>
    // (the nbconvert/commonmark shape), and a marker-type switch at the
    // same depth closes the list and opens a sibling of the other type.
    def renderList(items: Vector[(Int, Boolean, String)]): String = {
      val blocks = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < items.length) {
        val base = items(j)._1
        val ord = items(j)._2
        val lis = scala.collection.mutable.ArrayBuffer.empty[String]
        while (j < items.length && items(j)._1 >= base &&
               !(items(j)._1 == base && items(j)._2 != ord)) {
          val text = items(j)._3
          var k = j + 1
          while (k < items.length && items(k)._1 > base) k += 1
          val kids = items.slice(j + 1, k)
          val kidHtml = if (kids.isEmpty) "" else "\n" + renderList(kids)
          lis += s"<li>${inline(text)}$kidHtml</li>"
          j = k
        }
        val tag = if (ord) "ol" else "ul"
        blocks += lis.mkString(s"<$tag>\n", "\n", s"\n</$tag>")
      }
      blocks.mkString("\n")
    }
    val lines = md.linesIterator.toVector
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      lines(i) match {
        // fenced code block: verbatim <pre><code>, no inline markup —
        // nbconvert keeps fence contents untouched
        case l if fence.findFirstIn(l).isDefined =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          i += 1
          while (i < lines.length && fence.findFirstIn(lines(i)).isEmpty) {
            buf += lines(i)
            i += 1
          }
          i += 1 // closing fence (or end of input on an unclosed block)
          out += s"<pre><code>${escapeHtml(buf.mkString("\n"))}</code></pre>"
        // display-math block on its own lines: TeX passes through escaped
        // but otherwise untouched (MathJax consumes the $$ delimiters)
        case l if l.trim == "$$" =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          i += 1
          while (i < lines.length && lines(i).trim != "$$") {
            buf += lines(i)
            i += 1
          }
          i += 1 // closing $$ (or end of input on an unclosed block)
          out += "<div class=\"math\">$$\n" +
            escapeHtml(buf.mkString("\n")) + "\n$$</div>"
        case l if listLine(l).isDefined =>
          val items =
            scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, String)]
          while (i < lines.length && listLine(lines(i)).isDefined) {
            items += listLine(lines(i)).get
            i += 1
          }
          out += renderList(items.toVector)
        case header(hashes, rest) =>
          out += s"<h${hashes.length}>${inline(rest)}</h${hashes.length}>"
          i += 1
        case l if l.trim.isEmpty =>
          out += ""
          i += 1
        case l =>
          out += s"<p>${inline(l)}</p>"
          i += 1
      }
    }
    out.mkString("\n")
  }
}
