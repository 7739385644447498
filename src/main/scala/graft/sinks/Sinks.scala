package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.model.Json
import graft.parser.{ArtifactContent, SpanParser, TaskRunSummary, WorkflowSummary}

/** Rendering helpers shared by the sinks: Python-style value stringification
  * (`True`, `1.5`, bare strings) so attribute lines match the reference's
  * f-string rendering. */
object Render {
  def pyStr(v: Any): String = v match {
    case b: Boolean => if (b) "True" else "False"
    case d: Double => Json.renderDouble(d)
    case f: Float => Json.renderDouble(f.toDouble)
    case null => "None"
    case other => other.toString
  }

  /** JSON with indent=2, mirroring Python `json.dumps(..., indent=2)`
    * (maps render in iteration order; build with ListMap for stability). */
  def prettyJson(v: Any, level: Int = 0): String = {
    val pad = "  " * level
    val childPad = "  " * (level + 1)
    v match {
      case m: collection.Map[_, _] =>
        if (m.isEmpty) "{}"
        else m.map { case (k, x) =>
          childPad + Json.quote(k.toString) + ": " + prettyJson(x, level + 1)
        }.mkString("{\n", ",\n", "\n" + pad + "}")
      case xs: Iterable[_] =>
        if (xs.isEmpty) "[]"
        else xs.map(x => childPad + prettyJson(x, level + 1))
          .mkString("[\n", ",\n", "\n" + pad + "]")
      case other => Json.render(other)
    }
  }

  def writeText(path: Path, text: String): Unit = {
    if (path.getParent != null) Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}

/** G2/G3 — Mermaid DAG + Gantt input-file sinks
  * (`otel_output_parser/mermaid_graphs.py:49-161`). String templates over a
  * parsed workflow summary; the parse is done ONCE by the caller and shared
  * across sinks (the reference re-parses per sink — SURVEY §4.1's redundant
  * work hazard, fixed structurally here). */
object Mermaid {

  private def header(attributes: Map[String, Any]): String = {
    val taskId = attributes("task.id").toString
    val taskType = attributes("task.type").toString.capitalize
    s"$taskId ($taskType task)"
  }

  private def linkToTaskRun(t: TaskRunSummary): String = {
    val host = t.attributes.get("workflow.github.repository") match {
      case Some(repo: String) =>
        val Array(owner, name) = repo.split("/", 2)
        s"https://$owner.github.io/$name"
      case _ => "."
    }
    s"$host/#/experiments/${t.attributes("task.id")}/runs/${t.spanId}"
  }

  def dagInputFile(summary: WorkflowSummary, generateLinks: Boolean): String = {
    val out = scala.collection.mutable.ArrayBuffer(
      "graph LR",
      "    %% Mermaid input file for drawing task dependencies ",
      "    %% See https://mermaid-js.github.io/mermaid",
      "    %%")

    def nodeId(spanId: String) = s"TASK_SPAN_ID_$spanId"

    summary.taskRuns.foreach { t =>
      require(Seq("python", "jupytext").contains(t.attributes("task.type")),
        s"Unknown task type for ${t.attributes}")
      val attrLines = t.attributes.collect {
        case (k, v) if k.startsWith("task.") && k != "task.type" => s"$k=${Render.pyStr(v)}"
      }.toSeq.sorted
      val label =
        if (generateLinks) {
          val url = linkToTaskRun(t)
          val html = s"<b>${header(t.attributes)} 🔗</b> <br />" +
            attrLines.mkString("<br />")
          s"<a href='$url' style='text-decoration: none; color: black;'>$html</a>"
        } else header(t.attributes)
      out += s"""    ${nodeId(t.spanId)}["$label"]"""
    }
    summary.taskDependencies.foreach { case (from, to) =>
      out += s"    ${nodeId(from)} --> ${nodeId(to)}"
    }
    out.mkString("\n")
  }

  def ganttInputFile(summary: WorkflowSummary): String = {
    val out = scala.collection.mutable.ArrayBuffer(
      "gantt",
      "    %% Mermaid input file for drawing Gantt chart of runlog runtimes",
      "    %% See https://mermaid-js.github.io/mermaid/#/gantt",
      "    %%",
      "    axisFormat %H:%M",
      "    %%",
      "    %% Give timestamps as unix timestamps (ms)",
      "    dateFormat x",
      "    %%")

    summary.taskRuns.foreach { t =>
      require(Seq("python", "jupytext").contains(t.attributes("task.type")),
        s"Unknown task type for ${t.attributes}")
      out += s"    section ${header(t.attributes)}"
      val (desc, modifier) =
        if (t.isSuccess) ("OK", "") else ("FAILED", "crit")
      val range = t.timing.epochUsRange
      out += Seq(
        s"    ${graft.model.TimeFns.renderSeconds(range)} - $desc :$modifier ",
        s"${range._1 / 1000000} ",
        s"${range._2 / 1000000} ").mkString(", ")
    }
    out.mkString("\n")
  }
}

/** G1 — directory-tree sink (`otel_output_parser/cli_pynb_log_parser.py:38-81`):
  * per-workflow metadata JSON + one directory per task
  * `{type}-task--{sanitized id}--{span id}--{OK|FAILED}` with metadata and
  * artifact files. `safePath` is the path-traversal guard. */
object DirectoryTreeSink {

  def safePath(p: Path): Path = {
    require(p.toString.startsWith("/"), s"Expected absolute path: $p")
    require(!p.toString.contains(".."), s"Path traversal rejected: $p")
    p
  }

  /** Resolve a user-controlled relative name under `base`, rejecting
    * absolute names, names that resolve to the base itself (`""`, `.`)
    * and any traversal that escapes the base. (Path.resolve
    * DISCARDS the base for an absolute argument, and ".." segments resolve
    * outward — both must be checked on the normalized result.) */
  def resolveSafe(base: Path, name: String): Path = {
    require(!java.nio.file.Paths.get(name).isAbsolute,
      s"Absolute artifact name rejected: $name")
    val resolved = base.resolve(name).normalize()
    require(resolved.startsWith(base.normalize()) && resolved != base.normalize(),
      s"Artifact name escapes its directory: $name")
    resolved
  }

  private def outcome(isSuccess: Boolean) = if (isSuccess) "OK" else "FAILED"

  def taskDirName(t: TaskRunSummary): String = Seq(
    s"${t.attributes("task.type")}-task",
    t.attributes("task.id").toString.replace("/", "-").replace(".", "-"),
    t.spanId,
    outcome(t.isSuccess)).mkString("--")

  def write(summary: WorkflowSummary, outBasePath: Path): Unit = {
    Render.writeText(safePath(outBasePath.resolve("run-time-metadata.json")),
      Render.prettyJson(toOrdered(summary.asDict)))

    summary.taskRuns.foreach { t =>
      require(Seq("python", "jupytext").contains(t.attributes("task.type")),
        s"Unknown task type for ${t.attributes}")
      val taskDir = outBasePath.resolve(taskDirName(t))
      Render.writeText(safePath(taskDir.resolve("run-time-metadata.json")),
        Render.prettyJson(toOrdered(t.asDict)))
      t.loggedArtifacts.foreach { a =>
        a.write(safePath(resolveSafe(taskDir.resolve("artifacts"), a.name)))
      }
    }
  }

  /** Alphabetical key order for deterministic JSON output files. */
  private[sinks] def toOrdered(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      scala.collection.immutable.ListMap(
        m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
          k.toString -> toOrdered(x)
        }: _*)
    case xs: Iterable[_] => xs.map(toOrdered)
    case other => other
  }
}

/** G4 — static-website data sink
  * (`otel_output_parser/cli_generate_static_data.py:75-201`): one uniform
  * union-schema record per workflow and task, reporting artifacts (Mermaid
  * diagrams, metadata JSON) written post-hoc under the www root. */
object StaticDataSink {

  /** `artifacts/<kind>/<spanId>` under the www root. Span ids come from
    * untrusted run zips, so the id is resolved with the same guard as an
    * artifact name: no absolute ids, no `..` escaping the directory. */
  private def spanDir(wwwRoot: Path, kind: String, spanId: String): Path =
    DirectoryTreeSink.resolveSafe(wwwRoot.resolve("artifacts").resolve(kind), spanId)

  def process(summary: WorkflowSummary, wwwRoot: Path): Seq[Map[String, Any]] = {
    val workflowDir = spanDir(wwwRoot, "workflow", summary.spanId)

    val reportingArtifacts = Seq(
      ArtifactContent("dag.mmd", "utf-8",
        Mermaid.dagInputFile(summary, generateLinks = true)),
      ArtifactContent("dag-nolinks.mmd", "utf-8",
        Mermaid.dagInputFile(summary, generateLinks = false)),
      ArtifactContent("gantt.mmd", "utf-8", Mermaid.ganttInputFile(summary)),
      ArtifactContent("run-time-metadata.json", "utf-8",
        Render.prettyJson(DirectoryTreeSink.toOrdered(summary.asDict))))

    reportingArtifacts.foreach(a =>
      a.write(DirectoryTreeSink.resolveSafe(workflowDir, a.name)))

    val workflowEntry = Map[String, Any](
      "parent_span_id" -> null,
      "span_id" -> summary.spanId,
      "type" -> "workflow") ++
      summary.timing.asDict.map { case (k, v) => s"timing_$k" -> v } ++ Map(
      "is_success" -> summary.isSuccess,
      "attributes" -> summary.attributes,
      "artifacts" -> reportingArtifacts.map(_.metadataAsDict))

    val taskEntries = summary.taskRuns.map { t =>
      val taskDir = spanDir(wwwRoot, "task", t.spanId)
      val metaArtifact = ArtifactContent("run-time-metadata.json", "utf-8",
        Render.prettyJson(DirectoryTreeSink.toOrdered(t.asDict)))
      val all = t.loggedArtifacts :+ metaArtifact
      all.foreach(a => a.write(DirectoryTreeSink.resolveSafe(taskDir, a.name)))
      Map[String, Any](
        "parent_span_id" -> summary.spanId,
        "span_id" -> t.spanId,
        "type" -> "task",
        "task_id" -> t.taskId) ++
        t.timing.asDict.map { case (k, v) => s"timing_$k" -> v } ++ Map(
        "is_success" -> t.isSuccess,
        "attributes" -> t.attributes,
        "artifacts" -> all.map(_.metadataAsDict),
        "logged_values" -> t.loggedValues.map { case (k, v) => k -> v.asDict })
    }

    workflowEntry +: taskEntries
  }

  def writeStaticData(entries: Seq[Map[String, Any]], wwwRoot: Path): Unit =
    Render.writeText(wwwRoot.resolve("static_data.json"),
      Render.prettyJson(entries.map(DirectoryTreeSink.toOrdered)))
}

/** F3 — GitHub environment capture
  * (`composable_logs/run_pipeline_helpers.py:13-99`): 13 allowlisted env
  * vars → `workflow.github.*` attributes, lowercase, with the secrets
  * guard. */
/** G6 — columnar runs archive: the scale sink. Task-run rows (the
  * distributed flat view, [[graft.parser.SpanParser.taskRunsDF]]) append to
  * a parquet dataset partitioned by run date, so a multi-run archive reads
  * back with partition pruning (`run_date = ...` never touches other days'
  * files) and column pruning — the layout that keeps a 100 TB history
  * queryable. The driver-sized summary sinks above are for single runs;
  * this one is for the fleet. */
object ParquetRunsSink {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  def write(taskRuns: DataFrame, path: String, mode: String = "append"): Unit =
    taskRuns
      // lexical date from the ISO-UTC string: to_date(to_timestamp(...))
      // would shift through the SESSION timezone, splitting one UTC day
      // across partitions depending on the writing cluster's config
      .withColumn("run_date", substring(col("start_time"), 1, 10))
      .write.mode(mode).partitionBy("run_date").parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}

object GithubEnv {
  private val allowlist = Seq(
    "GITHUB_REPOSITORY", "GITHUB_WORKFLOW", "RUNNER_NAME", "GITHUB_RUN_ID",
    "GITHUB_ACTOR", "GITHUB_JOB", "GITHUB_BASE_REF", "GITHUB_HEAD_REF",
    "GITHUB_SHA", "GITHUB_REF", "GITHUB_REF_TYPE", "GITHUB_REF_NAME",
    "GITHUB_EVENT_NAME")

  def githubEnvVariables(env: String => Option[String] = k => sys.env.get(k))
      : Map[String, String] = {
    allowlist.flatMap { k =>
      if (Seq("token", "secret", "password").exists(k.toLowerCase.contains))
        throw new IllegalArgumentException(s"Tried to inject potential secret $k")
      env(k).map(v =>
        ("workflow.github." + k.toLowerCase.replace("github_", "")) -> v)
    }.toMap
  }
}
