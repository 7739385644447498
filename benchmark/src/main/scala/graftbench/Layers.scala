package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run, computed from the benchmark's
  * spans and what Spark's listener saw. Every value is per traced pass. */
object Layers {

  case class Metric(name: String, unit: String, better: String)

  private def m(name: String, unit: String, better: String = "lower") = Metric(name, unit, better)

  val SelfTimeLayers: Seq[String] =
    Seq("bench", "spark.job", "spark.stage", "exec", "spans", "parser", "sinks") ++ Rows.Groups

  /** Every per-layer metric, in output order. `parser.jobs` is both the
    * parser group's jobs (battery b* rows) and the jobs of the workflow's
    * parse phase: the same layer seen from two workloads. */
  val All: Seq[Metric] = (
    Rows.Groups.flatMap(g => Seq(
      m(s"$g.wall_s", "s"), m(s"$g.build_s", "s"), m(s"$g.plan_s", "s"),
      m(s"$g.driver_s", "s"), m(s"$g.jobs", "count"), m(s"$g.tasks", "count"),
      m(s"$g.task_cpu_s", "s"), m(s"$g.shuffle_mb", "MB"))) ++ Seq(
      m("spark.spill_mb", "MB"), m("spark.skew_max", "ratio"),
      m("spark.stage_wait_s", "s"), m("spark.exchanges", "count"),
      m("spark.skipped_stages", "count", "higher"), m("spark.gc_s", "s"),
      m("functions.fallback_exprs", "count"), m("operators.pinned_rdds_growth", "count"),
      m("memory.live_heap_mb", "MB"), m("memory.peak_rss_mb", "MB"),
      m("exec.tasks", "count", "higher"), m("exec.spans", "count"),
      m("exec.spans_per_task", "count"), m("exec.body_calls_per_task", "count"),
      m("exec.body_s", "s"), m("exec.spark_jobs", "count"), m("exec.write_s", "s"),
      m("exec.dispatch_ms_p50", "ms"), m("exec.dispatch_ms_p99", "ms"),
      m("exec.overhead_ms_p50", "ms"),
      m("spans.read_s", "s"), m("parser.parse_s", "s"), m("parser.jobs", "count"),
      m("sinks.dir_s", "s"), m("sinks.mermaid_s", "s"), m("sinks.files", "count"),
      m("sinks.mb", "MB"),
      m("spans.zip_read_s", "s"), m("parser.task_runs_s", "s"), m("sinks.static_s", "s"),
      m("workflow.dag_makespan_s", "s"), m("workflow.dag_tasks_per_s", "1/s", "higher"),
      m("workflow.report_s", "s"), m("workflow.archive_s", "s"),
      m("trace.wall_s", "s"), m("trace.self_sum_s", "s"), m("trace.overhead_s", "s")) ++
      SelfTimeLayers.map(l => m(s"selftime.$l", "s"))).distinctBy(_.name)

  /** Inputs gathered over a run's traced passes. */
  case class Traced(
      passes: Seq[BSpan],
      spans: Seq[BSpan],
      probe: SparkProbe,
      workflows: Seq[WorkflowRun],
      reportFiles: (Long, Long),
      gcS: Double,
      pinnedGrowth: Int,
      untracedWalls: Seq[Double], // pass spans, output checks included as in `passes`
      liveHeapMb: Double,
      peakRssMb: Double)

  /** Spans of the traced passes plus one span per Spark job and stage,
    * each job under the phase (or op) it ran in. */
  def withSpark(t: Traced, rec: Recorder): Seq[BSpan] = {
    val passIds = t.passes.map(_.id).toSet
    val byParent = t.spans.groupBy(_.parent)
    def below(ids: Set[Long]): Seq[BSpan] = {
      val kids = ids.toSeq.flatMap(byParent.getOrElse(_, Nil))
      if (kids.isEmpty) Nil else kids ++ below(kids.map(_.id).toSet)
    }
    val inPasses = below(passIds)
    val ops = inPasses.filter(_.attrs.get("kind").contains("op"))
    val opById = ops.map(o => o.id -> o).toMap
    val phases = inPasses.filter(s => opById.contains(s.parent)).groupBy(_.parent)
    val sparkSpans = mutable.ArrayBuffer.empty[BSpan]
    t.probe.jobs.foreach { j =>
      val startUs = j.startMs * 1000L
      val op = j.op.flatMap(k => opById.get(k.toLong))
        .orElse(ops.find(o => o.startUs <= startUs && startUs <= o.endUs))
      op.foreach { o =>
        val parent = phases.getOrElse(o.id, Nil)
          .find(p => p.startUs <= startUs && startUs <= p.endUs).getOrElse(o)
        val jobSpan = BSpan(rec.nextId(), parent.id, s"job ${j.jobId}", "spark.job",
          startUs, math.max(startUs, j.endMs * 1000L), Map("job_id" -> j.jobId.toLong))
        sparkSpans += jobSpan
        j.stageIds.flatMap(t.probe.stage).foreach { s =>
          if (s.submitMs >= j.startMs && s.doneMs >= s.submitMs)
            sparkSpans += BSpan(rec.nextId(), jobSpan.id, s"stage ${s.stageId}", "spark.stage",
              s.submitMs * 1000L, s.doneMs * 1000L, Map("stage_id" -> s.stageId.toLong,
                "tasks" -> s.numTasks.toLong))
        }
      }
    }
    t.passes ++ inPasses ++ sparkSpans
  }

  /** Self time (s) per layer over the traced passes. */
  def selfTimes(all: Seq[BSpan]): Map[String, Double] = {
    val self = SelfTime.compute(all.map(s =>
      SelfTime.Node(s.id.toString, Some(s.parent.toString).filter(_ != "0"), s.startUs, s.endUs)))
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id.toString)).sum / 1e6 }
  }

  def compute(t: Traced, all: Seq[BSpan]): Map[String, Double] = {
    val n = math.max(1, t.passes.size).toDouble
    val out = mutable.LinkedHashMap.empty[String, Double]
    All.foreach(x => out(x.name) = 0.0)
    val spark = all.filter(_.layer.startsWith("spark."))
    val jobs = spark.filter(_.layer == "spark.job")
    val stagesOf = spark.filter(_.layer == "spark.stage").groupBy(_.parent)
    val parentOf = all.map(s => s.id -> s.parent).toMap
    val byId = all.map(s => s.id -> s).toMap
    val ops = all.filter(_.attrs.get("kind").contains("op"))
    def opOf(s: BSpan): Option[BSpan] = {
      var cur = s.parent
      while (cur != 0L && !byId(cur).attrs.get("kind").contains("op")) cur = parentOf(cur)
      if (cur == 0L) None else Some(byId(cur))
    }
    val jobsByOp = jobs.groupBy(j => opOf(j).map(_.id).getOrElse(0L))
    val queries = t.probe.queries.iterator().asScala.toSeq
    def queriesIn(o: BSpan) = queries.filter(q => o.startUs <= q.startMs * 1000L && q.startMs * 1000L <= o.endUs)
    def stageRecs(js: Seq[BSpan]) = js.flatMap(j => stagesOf.getOrElse(j.id, Nil))
      .flatMap(s => t.probe.stage(s.attrs("stage_id").asInstanceOf[Long].toInt))

    def union(iv: Seq[(Long, Long)]): Long = iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
    }._1

    ops.filter(o => Rows.Groups.contains(o.layer)).groupBy(_.layer).foreach { case (g, os) =>
      var wall, build, plan, driver, cpu, shuffle = 0.0
      var nJobs, nTasks = 0L
      os.foreach { o =>
        val js = jobsByOp.getOrElse(o.id, Nil)
        val st = stageRecs(js)
        wall += o.durS
        build += all.filter(s => s.parent == o.id && s.name == "build").map(_.durS).sum
        plan += queriesIn(o).map(_.planMs).sum / 1e3
        driver += (o.endUs - o.startUs - union(js.map(j =>
          (math.max(j.startUs, o.startUs), math.min(j.endUs, o.endUs))).filter(x => x._2 > x._1))) / 1e6
        nJobs += js.size
        nTasks += st.map(_.numTasks).sum
        cpu += st.map(_.cpuNs).sum / 1e9
        shuffle += st.map(_.shuffleBytes).sum / 1e6
      }
      out(s"$g.wall_s") = wall / n
      out(s"$g.build_s") = build / n
      out(s"$g.plan_s") = plan / n
      out(s"$g.driver_s") = driver / n
      out(s"$g.jobs") = nJobs / n
      out(s"$g.tasks") = nTasks / n
      out(s"$g.task_cpu_s") = cpu / n
      out(s"$g.shuffle_mb") = shuffle / n
    }

    val allStages = stageRecs(jobs)
    out("spark.spill_mb") = allStages.map(_.spillBytes).sum / 1e6 / n
    out("spark.skew_max") = allStages.filter(_.taskMs.size >= 2).map { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      s.taskMs.max / math.max(1.0, med)
    }.maxOption.getOrElse(0.0)
    out("spark.stage_wait_s") = allStages.filter(_.firstLaunchMs != Long.MaxValue)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1e3 / n
    val opQueries = ops.flatMap(queriesIn)
    out("spark.exchanges") = opQueries.map(_.exchanges).sum / n
    out("spark.skipped_stages") = jobs.map { j =>
      val id = j.attrs("job_id").asInstanceOf[Long].toInt
      t.probe.job(id).map(_.stageIds.size).getOrElse(0) -
        stagesOf.getOrElse(j.id, Nil).size
    }.sum / n
    out("spark.gc_s") = t.gcS / n
    out("functions.fallback_exprs") = opQueries.map(_.fallbackExprs).sum / n
    out("operators.pinned_rdds_growth") = t.pinnedGrowth
    out("memory.live_heap_mb") = t.liveHeapMb
    out("memory.peak_rss_mb") = t.peakRssMb

    val wf = ops.filter(_.name == "workflow")
    if (wf.nonEmpty) {
      val k = wf.size.toDouble
      def phase(name: String) = all.filter(s => s.name == name && wf.exists(_.id == s.parent)).map(_.durS)
      val runs = t.workflows
      val tasks = runs.map(_.dag.tasks.size).sum
      val bodies = runs.flatMap(r => r.dag.tasks.map(x => (r.stamps.endUs(x.index) - r.stamps.startUs(x.index)) / 1e6))
      val dispatch = runs.flatMap { r =>
        r.dag.tasks.filter(_.deps.nonEmpty).map(x =>
          (r.stamps.startUs(x.index) - x.deps.map(r.stamps.endUs(_)).max) / 1e3)
      }
      val overhead = runs.flatMap(r => r.dag.tasks.flatMap(x => r.taskSpanUs.get(x.id).map(us =>
        (us - (r.stamps.endUs(x.index) - r.stamps.startUs(x.index))) / 1e3)))
      val dagS = phase("runDag")
      out("exec.tasks") = tasks / k
      out("exec.spans") = runs.map(_.spans).sum / k
      out("exec.spans_per_task") = runs.map(_.spans).sum.toDouble / math.max(1, tasks)
      out("exec.body_calls_per_task") = runs.flatMap(_.stamps.calls.map(_.get)).sum.toDouble / math.max(1, tasks)
      out("exec.body_s") = bodies.sum / k
      out("exec.spark_jobs") = jobs.count(j => byId(j.parent).name == "runDag") / k
      out("exec.write_s") = phase("writeJsonl").sum / k
      if (dispatch.nonEmpty) {
        out("exec.dispatch_ms_p50") = Stats.median(dispatch)
        out("exec.dispatch_ms_p99") = Stats.quantile(dispatch, 0.99)
      }
      if (overhead.nonEmpty) out("exec.overhead_ms_p50") = Stats.median(overhead)
      out("spans.read_s") = phase("readJsonl").sum / k
      out("parser.parse_s") = phase("parseSpans").sum / k
      out("parser.jobs") = jobs.count(j => byId(j.parent).name == "parseSpans") / k
      out("sinks.dir_s") = phase("directoryTree").sum / k
      out("sinks.mermaid_s") = phase("mermaid").sum / k
      out("sinks.files") = t.reportFiles._1 / k
      out("sinks.mb") = t.reportFiles._2 / 1e6 / k
      out("workflow.dag_makespan_s") = Stats.median(dagS)
      out("workflow.dag_tasks_per_s") = tasks / math.max(1e-9, dagS.sum)
      out("workflow.report_s") = Stats.median(wf.map(o =>
        all.filter(s => s.parent == o.id && Seq("readJsonl", "parseSpans", "directoryTree", "mermaid")
          .contains(s.name)).map(_.durS).sum))
    }
    val archives = ops.filter(_.name == "archive")
    if (archives.nonEmpty) {
      def phase(name: String) = all.filter(s => s.name == name && archives.exists(_.id == s.parent)).map(_.durS).sum / n
      out("spans.zip_read_s") = phase("zipRead")
      out("parser.task_runs_s") = phase("taskRuns")
      out("sinks.static_s") = phase("staticData")
      out("workflow.archive_s") = Stats.median(archives.map(_.durS))
    }

    val self = selfTimes(all)
    val walls = t.passes.map(_.durS)
    out("trace.wall_s") = Stats.median(walls)
    out("trace.self_sum_s") = self.values.sum / n
    out("trace.overhead_s") = Stats.median(walls) -
      (if (t.untracedWalls.nonEmpty) Stats.median(t.untracedWalls) else Stats.median(walls))
    SelfTimeLayers.foreach(l => out(s"selftime.$l") = self.getOrElse(l, 0.0) / n)
    out.toMap
  }
}
