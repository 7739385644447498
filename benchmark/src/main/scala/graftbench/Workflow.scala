package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.cli.StaticDataCli
import graft.exec.Engine
import graft.model.{AttrCodec, Json, TimeFns}
import graft.parser.{SpanParser, WorkflowSummary}
import graft.sinks.{DirectoryTreeSink, Mermaid, Render}
import graft.spans.SpanSource

/** One generated task: its upstream tasks (indices into the DAG), whether
  * its body runs a Spark job (and over how many rows), whether it carries a
  * timeout, whether it is a leaf seeded to fail, and the int it logs. */
case class TaskSpec(
    index: Int,
    id: String,
    layer: Int,
    deps: Seq[Int],
    sparkRows: Int,
    timeout: Boolean,
    fails: Boolean,
    value: Long)

case class DagSpec(name: String, tasks: IndexedSeq[TaskSpec]) {
  def edges: Set[(String, String)] =
    tasks.flatMap(t => t.deps.map(d => tasks(d).id -> t.id)).toSet
  def leaves: Seq[TaskSpec] = {
    val used = tasks.flatMap(_.deps).toSet
    tasks.filterNot(t => used(t.index))
  }
  def failing: Set[String] = tasks.filter(_.fails).map(_.id).toSet
}

/** Seeded generator of layered workflow DAGs: fan-in 1–3 from earlier
  * layers (one dependency always from the layer just above), half the
  * bodies running a small Spark job, a third carrying a timeout that never
  * fires, and failures seeded in leaves only so no task is pruned. */
object DagGen {
  val Layers = 8

  def generate(seed: Long, index: Int, nTasks: Int): DagSpec = {
    val rnd = new Random(seed * 1000003L + index)
    val name = s"w$index"
    val layerOf = (0 until nTasks).map(i => i * Layers / nTasks)
    val byLayer = (0 until nTasks).groupBy(layerOf)
    val base = (0 until nTasks).map { i =>
      val l = layerOf(i)
      val deps =
        if (l == 0) Nil
        else {
          val above = byLayer(l - 1)
          val first = above(rnd.nextInt(above.size))
          val earlier = (0 until byLayer(l).head)
          val extra = Seq.fill(rnd.nextInt(3))(earlier(rnd.nextInt(earlier.size)))
          (first +: extra).distinct.sorted
        }
      TaskSpec(i, f"$name-t$i%04d", l, deps,
        sparkRows = if (rnd.nextBoolean()) 1000 + rnd.nextInt(1000) else 0,
        timeout = rnd.nextInt(3) == 0,
        fails = false,
        value = rnd.nextInt(1000000000).toLong)
    }
    val used = base.flatMap(_.deps).toSet
    val leaves = base.filterNot(t => used(t.index)).map(_.index)
    val nFail = math.max(1, leaves.size / 20)
    val failing = rnd.shuffle(leaves).take(nFail).toSet
    DagSpec(name, base.map(t => t.copy(fails = failing(t.index))))
  }

  /** The 4 KB artefact a task logs, derived from its id. */
  def artefact(taskId: String): String = {
    val unit = s"$taskId:" + Integer.toHexString(taskId.hashCode) + ";"
    (unit * (4096 / unit.length + 1)).take(4096)
  }

  def meta(t: TaskSpec): Map[String, Any] =
    ListMap("task" -> t.id, "layer" -> t.layer.toLong, "deps" -> t.deps.size.toLong)

  def sparkSum(rows: Int): Long = rows.toLong * (rows - 1) / 2
}

/** Per-task stamps the benchmark's own task bodies leave behind. */
final class BodyStamps(n: Int) {
  val startUs = new Array[Long](n)
  val endUs = new Array[Long](n)
  val calls = Array.fill(n)(new AtomicInteger(0))
  val badArgs = new AtomicInteger(0)
}

/** What one workflow op measured, beyond its phase spans. */
case class WorkflowRun(
    dag: DagSpec,
    stamps: BodyStamps,
    spans: Int,
    taskSpanUs: Map[String, Long],
    jsonl: Path,
    outDir: Path,
    summary: WorkflowSummary)

/** The workflow round trip: run a generated DAG on the engine, write its
  * span log, and run the log-parser steps over it; then one archive op over
  * all runs of a pass. */
final class WorkflowRoundtrip(spark: SparkSession, rec: Recorder, work: Path) {
  private val sc = spark.sparkContext

  def runWorkflow(dag: DagSpec, opSpan: Long, seed: Long): WorkflowRun = {
    val engine = new Engine(spark)
    val stamps = new BodyStamps(dag.tasks.size)
    val opKey = opSpan.toString
    val nodes = new Array[graft.exec.Node](dag.tasks.size)
    dag.tasks.foreach { t =>
      val expectArgs = t.deps.map(d => dag.tasks(d).value)
      nodes(t.index) = engine.task(t.id,
        timeoutS = if (t.timeout) Some(600.0) else None) { args =>
        stamps.startUs(t.index) = Clock.nowUs()
        stamps.calls(t.index).incrementAndGet()
        sc.setLocalProperty(SparkProbe.OpKey, opKey)
        if (args != expectArgs) stamps.badArgs.incrementAndGet()
        val ctx = graft.exec.TaskContext.get
        ctx.logInt("value", t.value)
        ctx.logValue("meta", DagGen.meta(t))
        ctx.logArtefact("blob.txt", DagGen.artefact(t.id))
        if (t.sparkRows > 0)
          ctx.logInt("sum", spark.range(0, t.sparkRows, 1, 2)
            .selectExpr("sum(id)").first().getLong(0))
        sc.setLocalProperty(SparkProbe.OpKey, null)
        stamps.endUs(t.index) = Clock.nowUs()
        if (t.fails) throw new RuntimeException(s"seeded failure in ${t.id}")
        t.value
      }(t.deps.map(nodes(_)))
    }
    val sinks = dag.leaves.map(t => nodes(t.index))
    val params = Map[String, Any]("workflow.name" -> dag.name, "workflow.seed" -> seed)
    rec.span("runDag", "exec", opSpan)(_ => engine.runDag(sinks, params))

    val jsonl = work.resolve(s"runs/${dag.name}.jsonl")
    rec.span("writeJsonl", "exec", opSpan)(_ => engine.sink.writeJsonl(jsonl.toString))

    // the steps of graft.cli.LogParserCli.run, timed one by one
    val outDir = work.resolve(s"reports/${dag.name}")
    deleteTree(outDir)
    val spans = rec.span("readJsonl", "spans", opSpan) { _ =>
      val df = SpanSource.readJsonl(spark, jsonl.toString)
      df.count()
      df
    }
    val summary = rec.span("parseSpans", "parser", opSpan)(_ => SpanParser.parseSpans(spans))
    rec.span("directoryTree", "sinks", opSpan)(_ => DirectoryTreeSink.write(summary, outDir))
    rec.span("mermaid", "sinks", opSpan) { _ =>
      Render.writeText(outDir.resolve("gantt.mmd"), Mermaid.ganttInputFile(summary))
      Render.writeText(outDir.resolve("dag.mmd"), Mermaid.dagInputFile(summary, generateLinks = true))
      Render.writeText(outDir.resolve("dag-nolinks.mmd"), Mermaid.dagInputFile(summary, generateLinks = false))
    }

    val taskSpanUs = engine.spans.filter(_.name == "execute-task").map { s =>
      AttrCodec.parse(s.attributes("task.id")).toString ->
        (TimeFns.iso8601ToEpochUs(s.end_time) - TimeFns.iso8601ToEpochUs(s.start_time))
    }.toMap
    WorkflowRun(dag, stamps, engine.sink.size, taskSpanUs, jsonl, outDir, summary)
  }

  /** Compare one workflow op's outputs with the generator's ground truth;
    * returns the mismatches found. */
  def check(run: WorkflowRun): Seq[String] = {
    val dag = run.dag
    val summary = run.summary
    val problems = Seq.newBuilder[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) problems += s"${dag.name}: $what"

    expect(summary.taskRuns.size == dag.tasks.size,
      s"${summary.taskRuns.size} task runs, expected ${dag.tasks.size}")
    expect(run.stamps.calls.forall(_.get == 1), "a task body ran other than once")
    expect(run.stamps.badArgs.get == 0, "a task got wrong upstream values")

    val idOf = summary.taskRuns.map(t => t.spanId -> t.taskId).toMap
    val spans = SpanSource.readJsonl(spark, run.jsonl.toString)
    val legacy = SpanParser.extractTaskDependencies(spans).map { case (a, b) => idOf(a) -> idOf(b) }
    val links = SpanParser.extractTaskDependenciesFromLinks(spans).map { case (a, b) => idOf(a) -> idOf(b) }
    expect(legacy == dag.edges, s"task-dependency spans give ${legacy.size} edges, expected ${dag.edges.size}")
    expect(links == dag.edges, s"links give ${links.size} edges, expected ${dag.edges.size}")

    val byId = dag.tasks.map(t => t.id -> t).toMap
    summary.taskRuns.foreach { tr =>
      byId.get(tr.taskId) match {
        case None => expect(false, s"unknown task ${tr.taskId}")
        case Some(t) =>
          val v = tr.loggedValues
          expect(v.get("value").map(_.content) == Some(t.value), s"${t.id} logged value")
          expect(v.get("meta").map(_.content) == Some(DagGen.meta(t)), s"${t.id} logged JSON")
          expect(v.get("sum").map(_.content) ==
            (if (t.sparkRows > 0) Some(DagGen.sparkSum(t.sparkRows)) else None), s"${t.id} Spark sum")
          expect(tr.loggedArtifacts.map(a => a.name -> a.content) ==
            Seq("blob.txt" -> DagGen.artefact(t.id)), s"${t.id} artefact")
      }
    }
    val failed = summary.taskRuns.filter(_.isFailure).map(_.taskId).toSet
    expect(failed == dag.failing, s"FAILED tasks $failed, expected ${dag.failing}")

    val dirs = Files.list(run.outDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.contains("-task--")).toSeq
    expect(dirs.size == dag.tasks.size, s"${dirs.size} task directories")
    expect(dirs.count(_.endsWith("--FAILED")) == dag.failing.size, "FAILED directories")
    val mermaid = new String(Files.readAllBytes(run.outDir.resolve("dag.mmd")), StandardCharsets.UTF_8)
    expect(dag.tasks.forall(t => mermaid.contains(t.id)), "Mermaid DAG misses a task")
    problems.result()
  }

  /** The archive op: the pass's runs zipped in the reference's
    * `opentelemetry-spans.json` layout, the static-site generator over
    * them, and the task-runs view over all runs. */
  def archive(runs: Seq[WorkflowRun], opSpan: Long): Unit = {
    val zipDir = work.resolve("archive/zips")
    val www = work.resolve("archive/www")
    deleteTree(work.resolve("archive"))
    rec.span("zip", "bench", opSpan) { _ =>
      Files.createDirectories(zipDir)
      runs.foreach { r =>
        val lines = Files.readAllLines(r.jsonl, StandardCharsets.UTF_8).asScala.filter(_.trim.nonEmpty)
        val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(zipDir.resolve(s"${r.dag.name}.zip")))
        try {
          zos.putNextEntry(new java.util.zip.ZipEntry("opentelemetry-spans.json"))
          zos.write(lines.mkString("[", ",\n", "]").getBytes(StandardCharsets.UTF_8))
          zos.closeEntry()
        } finally zos.close()
      }
    }
    rec.span("staticData", "sinks", opSpan)(_ => StaticDataCli.run(Array(
      "--zip_cache_dir", zipDir.toString, "--output_www_root_directory", www.toString), spark))
    val all = rec.span("zipRead", "spans", opSpan) { _ =>
      val df = SpanSource.readZips(spark, s"$zipDir/*.zip").drop("source_zip").cache()
      df.count()
      df
    }
    try rec.span("taskRuns", "parser", opSpan)(_ =>
      SpanParser.taskRunsDF(all).write.format("noop").mode("overwrite").save())
    finally all.unpersist(blocking = false)
  }

  def checkArchive(runs: Seq[WorkflowRun]): Seq[String] = {
    val tasks = runs.map(_.dag.tasks.size).sum
    val failing = runs.map(_.dag.failing.size).sum
    val entries = Json.parse(new String(Files.readAllBytes(
      work.resolve("archive/www/static_data.json")), StandardCharsets.UTF_8)).asInstanceOf[Vector[Any]]
    val types = entries.map(_.asInstanceOf[collection.Map[String, Any]]("type"))
    val taskRuns = SpanParser.taskRunsDF(SpanSource.readZips(spark,
      s"${work.resolve("archive/zips")}/*.zip").drop("source_zip"))
    val (n, nFailed) = {
      val r = taskRuns.selectExpr("count(*)", "count_if(NOT is_success)").first()
      (r.getLong(0), r.getLong(1))
    }
    Seq(
      Option.when(types.count(_ == "workflow") != runs.size)(s"static data: ${types.count(_ == "workflow")} workflows"),
      Option.when(types.count(_ == "task") != tasks)(s"static data: ${types.count(_ == "task")} tasks, expected $tasks"),
      Option.when(n != tasks)(s"task runs: $n, expected $tasks"),
      Option.when(nFailed != failing)(s"task runs: $nFailed failed, expected $failing"),
    ).flatten
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
