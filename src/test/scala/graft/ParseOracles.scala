package graft

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.model.{AttrCodec, SerializedData}
import graft.parser._
import graft.spans.SpansOps._

/** Test-only parity oracles: the distributed formulations that
  * [[SpanParser.parseSpans]] and [[SpanParser.taskRunsDF]] replaced, kept
  * to pin the replacements row for row. On no query path. */
object ParseOracles {

  /** The union-branch parse: ownership pairs from [[SpanParser.taggedSpans]]
    * joined back to the spans, then eight extraction branches (task
    * attributes, exceptions, named values, artifacts, workflow attributes,
    * dependencies, task spans, timing) unioned into one collect and
    * assembled on the driver. The ownership join is keyed by (trace id,
    * span id), as the driver parse is. */
  def parseSpansUnion(spans: DataFrame): WorkflowSummary = {
    val pairs = SpanParser.taggedSpans(spans)
    val owned = spans.join(pairs, col("context.span_id") === col("id") &&
      col("context.trace_id") <=> col("trace_id"))
    assemble(spans, owned)
  }

  private def assemble(spans: DataFrame, owned: DataFrame): WorkflowSummary = {
    // Columns: kind, task, o1, o2, m, n, t — see each branch.
    val nullMap = lit(null).cast("map<string,string>")
    val nullStr = lit(null).cast("string")
    val attrBranch = owned
      .select(col("task_span_id"), explode(map_entries(col("attributes"))).as("kv"))
      .select(lit("attr").as("kind"), col("task_span_id").as("task"),
        col("kv.key").as("o1"), col("kv.value").as("o2"),
        nullMap.as("m"), nullStr.as("n"), nullStr.as("t"))
      .filter(col("o1").startsWith("task."))
    val excBranch = owned
      .select(col("task_span_id"), col("start_time"),
        col("context.span_id").as("sid"), explode(col("events")).as("e"))
      .filter(col("e.name") === "exception")
      .select(lit("exc").as("kind"), col("task_span_id").as("task"),
        col("start_time").as("o1"), col("sid").as("o2"),
        col("e.attributes").as("m"), col("e.name").as("n"),
        col("e.timestamp").as("t"))
    def payloadBranch(kind: String, spanName: String) = owned
      .filterNested(Seq("name"), spanName)
      .filterNested(Seq("status", "status_code"), "OK")
      .select(lit(kind).as("kind"), col("task_span_id").as("task"),
        col("start_time").as("o1"), col("context.span_id").as("o2"),
        col("attributes").as("m"), nullStr.as("n"), nullStr.as("t"))
    val wattrBranch = spans
      .select(explode_outer(map_entries(col("attributes"))).as("kv"))
      .select(col("kv.key").as("k"), col("kv.value").as("v"))
      .filter(col("k").isNotNull && col("k").startsWith("workflow."))
      .distinct()
      .select(lit("wattr").as("kind"), nullStr.as("task"),
        col("k").as("o1"), col("v").as("o2"),
        nullMap.as("m"), nullStr.as("n"), nullStr.as("t"))
    val depBranch = spans.filterNested(Seq("name"), "task-dependency")
      .select(
        col("attributes").getItem("from_task_span_id").as("f"),
        col("attributes").getItem("to_task_span_id").as("t0"))
      .distinct()
      .select(lit("dep").as("kind"), nullStr.as("task"),
        col("f").as("o1"), col("t0").as("o2"),
        nullMap.as("m"), nullStr.as("n"), nullStr.as("t"))
    val tspanBranch = spans.filterNested(Seq("name"), "execute-task")
      .select(lit("tspan").as("kind"), col("context.span_id").as("task"),
        col("start_time").as("o1"), col("end_time").as("o2"),
        nullMap.as("m"), nullStr.as("n"), nullStr.as("t"))
    val timingBranch = spans
      .agg(min(col("start_time")).as("o1"), max(col("end_time")).as("o2"))
      .select(lit("timing").as("kind"), nullStr.as("task"),
        col("o1"), col("o2"), nullMap.as("m"), nullStr.as("n"),
        nullStr.as("t"))
    val extracted = attrBranch
      .unionByName(excBranch)
      .unionByName(payloadBranch("nv", "named-value"))
      .unionByName(payloadBranch("art", "artefact"))
      .unionByName(wattrBranch)
      .unionByName(depBranch)
      .unionByName(tspanBranch)
      .unionByName(timingBranch)
      .collect()
      .groupBy(_.getString(0))
    def rows(kind: String): Array[Row] = extracted.getOrElse(kind, Array.empty[Row])
    def byStart(rs: Array[Row]): Array[Row] =
      rs.sortBy(r => (Option(r.getString(2)).getOrElse(""),
        Option(r.getString(3)).getOrElse("")))

    val timing = rows("timing").headOption
      .map(r => Timing(r.getString(2), r.getString(3)))
      .getOrElse(Timing(null, null))
    val workflowAttributes: Map[String, Any] = rows("wattr")
      .groupBy(_.getString(2))
      .map { case (k, rs) => k -> SpanParser.resolveAttr(k, rs.map(_.getString(3)).toSeq) }
    val topSpanId: String =
      workflowAttributes.get("workflow.workflow_run_id") match {
        case Some(s: String) => s
        case _ => "NO-TOP-SPAN--TEMP" + UUID.randomUUID().toString
      }
    val taskAttrs: Map[String, Map[String, Any]] = rows("attr")
      .groupBy(r => (r.getString(1), r.getString(2)))
      .toSeq
      .map { case ((task, k), rs) =>
        (task, k, SpanParser.resolveAttr(k, rs.map(_.getString(3)).toSeq))
      }
      .groupBy(_._1)
      .map { case (task, entries) => task -> entries.map(e => e._2 -> e._3).toMap }
    val taskExceptions: Map[String, Seq[Map[String, Any]]] = byStart(rows("exc"))
      .groupBy(_.getString(1))
      .map { case (task, rs) =>
        task -> rs.toSeq.map { r =>
          Map[String, Any](
            "name" -> r.getString(5),
            "timestamp" -> r.getString(6),
            "attributes" -> AttrCodec.parseMap(r.getMap[String, String](4).toMap))
        }
      }
    val taskValues: Map[String, Map[String, LoggedValueContent]] = byStart(rows("nv"))
      .groupBy(_.getString(1))
      .map { case (task, rs) =>
        val seen = scala.collection.mutable.LinkedHashMap.empty[String, LoggedValueContent]
        rs.foreach { r =>
          val attrs = r.getMap[String, String](4).toMap
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
      }
    val taskArtifacts: Map[String, Seq[ArtifactContent]] = byStart(rows("art"))
      .groupBy(_.getString(1))
      .map { case (task, rs) =>
        task -> rs.toSeq.flatMap { r =>
          val parsed = AttrCodec.parseMap(r.getMap[String, String](4).toMap)
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
      }
    val taskRuns = rows("tspan").toSeq
      .sortBy(r => (SpanParser.safeEpochUs(r.getString(2)),
        Option(r.getString(1)).getOrElse("")))
      .map { r =>
        val sid = r.getString(1)
        val attrs = workflowAttributes ++ taskAttrs.getOrElse(sid, Map.empty)
        val taskId = attrs.get("task.id") match {
          case Some(s: String) => s
          case other => throw new IllegalArgumentException(
            s"task.id missing or not a string for task span $sid: $other")
        }
        TaskRunSummary(
          spanId = sid,
          parentSpanId = topSpanId,
          taskId = taskId,
          exceptions = taskExceptions.getOrElse(sid, Seq.empty),
          attributes = attrs,
          timing = Timing(r.getString(2), r.getString(3)),
          loggedValues = taskValues.getOrElse(sid, Map.empty),
          loggedArtifacts = taskArtifacts.getOrElse(sid, Seq.empty))
      }
    val taskDependencies = rows("dep")
      .map(r => (AttrCodec.parse(r.getString(2)).asInstanceOf[String],
        AttrCodec.parse(r.getString(3)).asInstanceOf[String]))
      .toSet
    WorkflowSummary(
      spanId = topSpanId,
      timing = timing,
      attributes = workflowAttributes,
      taskRuns = taskRuns,
      taskDependencies = taskDependencies)
  }

  /** Three-branch formulation of [[SpanParser.taskRunsDF]]: ownership
    * pairs joined to the spans for exception counts, then joined to the
    * `execute-task` spans. */
  def taskRunsDFUnfused(spans: DataFrame): DataFrame = {
    val pairs = SpanParser.taggedSpans(spans)
    val exc = spans
      .join(pairs, col("context.span_id") === col("id") &&
        col("context.trace_id") <=> col("trace_id"))
      .select(col("task_span_id"), explode(col("events")).as("e"))
      .filter(col("e.name") === "exception")
      .groupBy(col("task_span_id")).agg(count(lit(1)).as("n_exceptions"))
    spans.filterNested(Seq("name"), "execute-task")
      .select(col("context.span_id").as("task_span_id"),
        col("start_time"), col("end_time"),
        get_json_object(col("attributes").getItem("task.id"), "$").as("task_id"))
      .join(exc, Seq("task_span_id"), "left")
      .withColumn("n_exceptions", coalesce(col("n_exceptions"), lit(0L)))
      .withColumn("is_success", col("n_exceptions") === 0)
      .withColumn("duration_s",
        graft.model.TimeFns.durationSCol(col("start_time"), col("end_time")))
  }
}
